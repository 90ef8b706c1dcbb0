package graft.operators

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import graft.gates.Audit
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact content
  * hash, exact n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine
  * near-dup.
  *
  * Scale stance (100 TB): the exact pairwise operators (the
  * exact-overlap core `overlapPairs` behind `jaccardPairsAuto`/
  * `containmentPairsAuto`, and `embeddingNearDupPairs`) are the
  * *verification* tier — quadratic in candidates, so they run AFTER a
  * candidate generator bounds the pair space. The generators are the LSH tiers (`minhashLshPairs`,
  * `simhashPairs`): shuffle cost is O(rows × bands), candidates only
  * within equal-signature buckets, no cross join anywhere. Exact dedup is
  * one hash-partitioned aggregation on a 128-bit key.
  *
  * The testdata `documents` table has no duplicates at all, so each demo
  * query plants duplicates first (`withExactDups`/`withNearDups` append
  * copies with doc_id+10000, the near variant dropping the first token) —
  * the oracle SQL plants the identical rows, keeping the check exact.
  */
object Dedup {

  val DupIdOffset = 10000L

  /** Scan-fused guard for the planted-dup id contract (ADVICE r9): the
    * plant fixtures map doc_id < [[PlantCount]] to doc_id+[[DupIdOffset]],
    * so a corpus draw whose base ids already occupy
    * [DupIdOffset, DupIdOffset+PlantCount) would silently merge the
    * base/fresh id spaces — and Spark (per-row features) and the DuckDB
    * oracle (grouped by doc_id across both sides) then degrade
    * DIFFERENTLY, turning a fixture assumption into a wrong-answer gate.
    * Wrap the BASE side's doc_id: per-row, codegen'd, zero extra jobs;
    * fails loud on exactly the colliding rows instead of checking
    * max(doc_id) with a separate scan. */
  val PlantCount = 20L
  def guardPlantWindow(id: Column): Column =
    when(id >= DupIdOffset && id < DupIdOffset + PlantCount,
      raise_error(concat(
        lit("planted-dup id collision: base doc_id "), id.cast("string"),
        lit(s" falls in the plant window [$DupIdOffset, ${DupIdOffset + PlantCount})"))))
      .otherwise(id).cast("long")

  /** Verified-tier threshold of [[incrementalNearDup]] — shared with
    * its DuckDB oracle (SparkEntry interpolates it) so a default change
    * cannot desync the gate. */
  val IncrementalTau = 0.9

  /** Substring-level duplicate spans — the span-granularity dedup pass
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): document-level dedup misses boilerplate repeated
    * INSIDE otherwise-distinct documents, so find every maximal run of
    * `windowLen`-char windows whose content occurs in ≥ minDocs distinct
    * documents, and report per-doc span statistics (count, covered
    * chars, longest). Works on window HASHES end to end — the native
    * one-pass `CharWindowHashes` kernel, never materialized window
    * strings — because shuffling 8-byte keys instead of 40-char
    * substrings is the difference that matters at corpus scale (a
    * 64-bit collision is ~1e-6 likely per 10M windows; the Lee et al.
    * pipeline makes the same trade).
    *
    * Scale shape: the duplicated-window set is found by one
    * hash-partitioned aggregation over (window-hash, doc) — corpus-scale
    * but on fixed-width keys with map-side partials; substring dedup is
    * inherently a global-content comparison (suffix-array approaches
    * sort the corpus too). The semi-join back and the islands window run
    * per doc. Output columns are all position-DIFFERENCE invariant, so
    * the 0-based Spark positions and the 1-based SQL oracle positions
    * hash identically. */
  def duplicateSpans(docs: DataFrame, windowLen: Int = 40,
                     minDocs: Int = 2): DataFrame = {
    val L = windowLen
    val sh = docs.filter(length(col("text")) >= L)
      .select(col("doc_id"),
        posexplode(graft.functions.CharWindowExpression
          .char_window_hashes(col("text"), L)).as(Seq("pos", "h")))
    val dupSet = sh.select("h", "doc_id").distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("h")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    sh.join(dupSet, Seq("h"), "left_semi")
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg((max(col("pos")) - min(col("pos")) + L).as("span_chars"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("span_chars")).as("n_dup_chars"),
        max(col("span_chars")).as("max_span"))
  }

  /** The span-REMOVAL transformation [[duplicateSpans]] only reports —
    * Lee et al. 2022's actual dedup step: cut every character covered
    * by a cross-document duplicated `windowLen`-char window, EXCEPT in
    * the window's canonical owner (minimum doc_id containing it), so
    * exactly one copy of each duplicated region survives corpus-wide.
    * Covered positions are merged into maximal char intervals per doc
    * (overlapping windows union, the gaps-and-islands running-max
    * trick), and the survivors are spliced back together with one
    * `aggregate` fold over the doc's own (small) interval list.
    *
    * Scale shape: same backbone as [[duplicateSpans]] — one
    * hash-partitioned aggregation over fixed-width window hashes finds
    * the duplicated set AND its owner (min doc_id rides the same
    * aggregate), a semi-join-shaped broadcast-or-shuffle join marks
    * each doc's covered positions, and everything after (interval
    * merge, splice, fingerprint) is per-doc bounded. Emits per-doc
    * (n_chars, n_cut_chars, n_spans_cut, scrubbed_fp) — the md5 pins
    * the exact spliced text against the oracle, which recomputes the
    * whole policy on window STRINGS (agreement again proves the hash
    * kernel faithful). */
  def scrubDuplicateSpans(docs: DataFrame, windowLen: Int = 40,
                          minDocs: Int = 2): DataFrame =
    scrubbedSpanDocs(docs, windowLen, minDocs)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        col("n_cut_chars"), col("n_spans_cut"),
        md5(col("scrubbed")).as("scrubbed_fp"))
      .orderBy("doc_id")

  /** The scrub's full frame — (doc_id, text, scrubbed, n_cut_chars,
    * n_spans_cut) — so the spec can re-scan the scrubbed corpus and
    * prove the fixpoint (zero duplicate spans remain). */
  def scrubbedSpanDocs(docs: DataFrame, windowLen: Int = 40,
                       minDocs: Int = 2): DataFrame = {
    val L = windowLen
    val sh = docs.filter(length(col("text")) >= L)
      .select(col("doc_id"),
        posexplode(graft.functions.CharWindowExpression
          .char_window_hashes(col("text"), L)).as(Seq("pos", "h")))
    // duplicated windows + their canonical owner, one aggregation
    val owners = sh.select("h", "doc_id").distinct()
      .groupBy("h")
      .agg(count(lit(1)).as("nd"), min(col("doc_id")).as("owner"))
      .filter(col("nd") >= minDocs)
      .select("h", "owner")
    // char intervals [s, e) (1-based) this doc must cut
    val cuts = sh.join(owners, Seq("h"))
      .filter(col("doc_id") =!= col("owner"))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("s"),
        (col("pos") + 1 + L).cast("long").as("e"))
    val byS = Window.partitionBy("doc_id").orderBy("s")
    val merged = cuts
      .withColumn("prev_max",
        max(col("e")).over(byS.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("grp", sum(
        (col("s") > coalesce(col("prev_max"), lit(0L))).cast("long"))
        .over(byS))
      .groupBy("doc_id", "grp")
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val ivs = merged.groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("s"), col("e")))).as("ivs"),
        count(lit(1)).as("n_spans_cut"),
        sum(col("e") - col("s")).as("n_cut_chars"))
    // splice: fold over the interval list appending each kept segment,
    // then the tail after the last cut
    val spliced = aggregate(col("ivs"),
      struct(lit("").as("txt"), lit(1L).as("nxt")),
      (acc, iv) => struct(
        concat(acc.getField("txt"),
          col("text").substr(acc.getField("nxt"),
            iv.getField("s") - acc.getField("nxt"))).as("txt"),
        iv.getField("e").as("nxt")),
      acc => concat(acc.getField("txt"),
        col("text").substr(acc.getField("nxt"),
          greatest(length(col("text")).cast("long")
            - acc.getField("nxt") + lit(1L), lit(0L)))))
    docs.join(ivs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"),
        when(col("ivs").isNull, col("text")).otherwise(spliced)
          .as("scrubbed"),
        coalesce(col("n_cut_chars"), lit(0L)).as("n_cut_chars"),
        coalesce(col("n_spans_cut"), lit(0L)).as("n_spans_cut"))
  }

  /** documents ∪ exact copies of doc_id < 20 (new ids). */
  def withExactDups(docs: DataFrame): DataFrame = {
    val base = docs.select(
      guardPlantWindow(col("doc_id")).as("doc_id"), col("text"))
    base.union(base.filter(col("doc_id") < PlantCount)
      .select((col("doc_id") + DupIdOffset).as("doc_id"), col("text")))
  }

  /** documents ∪ near copies (first token dropped) of doc_id < 20. */
  def withNearDups(docs: DataFrame): DataFrame = {
    val base = docs.select(
      guardPlantWindow(col("doc_id")).as("doc_id"), col("text"))
    base.union(base.filter(col("doc_id") < PlantCount)
      .select((col("doc_id") + DupIdOffset).as("doc_id"),
        regexp_replace(col("text"), "^[^ ]+ ", "").as("text")))
  }

  /** Exact dedup groups: content-hash → group size + representative
    * (min doc_id). One shuffle on the hash key. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keep_doc_id"))

  /** Exact dedup: keep one representative row per distinct content. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.join(
      exactGroups(docs).select(col("keep_doc_id").as("doc_id")),
      Seq("doc_id"), "left_semi")

  /** Distinct word bigrams of `text` — the feature set of every exact
    * overlap tier. Docs under 2 tokens have none, so they never pair. */
  private def bigrams(text: Column): Column =
    array_distinct(wordNgrams(tokenize(text), 2))

  /** Per-doc hashed-bigram feature array: the candidate verifier's
    * per-doc payload, shared with the streaming ingest verify. Features
    * are carried as 64-bit hashes, not strings — the posting join
    * shuffles tens of millions of rows at sf0.1 and fixed-width keys
    * roughly halve the shuffle bytes (collision odds over ~10^3
    * distinct bigrams are ~10^-13, far below any oracle tolerance). */
  private[graft] def bigramFeatures(text: Column): Column =
    transform(bigrams(text), f => xxhash64(f))

  /** The same features exploded to a (doc_id, feat) posting list; the
    * hash runs after the explode, codegen'd, not in a lambda. */
  private def bigramPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(bigrams(col("text"))).as("feat_s"))
      .select(col("doc_id"), xxhash64(col("feat_s")).as("feat"))

  /** Exact-rational threshold compare shared by every pair-pass bound.
    *
    * Every emit filter accepts `round(ratio, 6) >= tau`, i.e. the exact
    * rational ratio ≥ tau − 5e-7 (half-up at 6 dp). A pass bound that
    * compared the exact rational against tau itself would be STRICTER
    * than the emit filter: a pair within 5e-7 below tau would be emitted
    * by the postings tier but pruned by the bitmap tier — unreachable at
    * test scale but a latent tier-equality divergence at production
    * feature counts (ADVICE r10). So the bounds compare the SAME
    * rational boundary in int64: num·2e6 ≥ (2·τµ − 1)·den with
    * τµ = round(tau·1e6) — exact while (2τµ−1)·den < 2^63, i.e. any
    * realistic per-doc feature count. */
  private def atLeastTau(num: Column, den: Column, tau: Double): Column =
    num * lit(2000000L) >= lit(2L * math.round(tau * 1e6) - 1) * den

  /** A ratio rounded to 6 dp — the one rounding every exact tier emits. */
  private def ratio(n: Column, den: Column): Column =
    round(n.cast("double") / den, 6)

  /** The measure of the exact-overlap join core: everything that differs
    * between Jaccard and containment. Both score the same unordered pair
    * rows (id_a, id_b, sa, sb, n_inter) — set sizes and |A∩B| — and
    * only the denominator differs, the set-similarity-join shape of
    * *MapReduce Algorithms for Big Data Analysis* (VLDB 2012). */
  private[graft] sealed trait Overlap {
    /** Output columns: two ids, then the rounded ratio. */
    def columns: Seq[String]

    /** Int64 bound a pair must pass inside the bitmap join condition; it
      * is never stricter than [[emit]]'s filter (see [[atLeastTau]]). */
    def passes(tau: Double, sa: Column, sb: Column, n: Column): Column

    /** Scored pair rows → output rows with ratio ≥ tau. */
    def emit(pairs: DataFrame, tau: Double): DataFrame

    /** The result on a featureless corpus. */
    def empty(spark: SparkSession): DataFrame =
      spark.range(0).select(col("id").as(columns(0)), col("id").as(columns(1)),
        col("id").cast("double").as(columns(2)))
  }

  /** J(A,B) = |A∩B| / |A∪B|, one row per unordered pair (id_a < id_b). */
  private[graft] case object Jaccard extends Overlap {
    val columns = Seq("id_a", "id_b", "jaccard")

    /** J ≤ min/max, so the cheap size-ratio test runs ahead of the
      * overlap test (And short-circuits before the popcount). */
    def passes(tau: Double, sa: Column, sb: Column, n: Column): Column =
      atLeastTau(least(sa, sb), greatest(sa, sb), tau) &&
        atLeastTau(n, sa + sb - n, tau)

    def emit(pairs: DataFrame, tau: Double): DataFrame =
      pairs
        .withColumn("jaccard",
          ratio(col("n_inter"), col("sa") + col("sb") - col("n_inter")))
        .filter(col("jaccard") >= tau)
        .select(columns.map(col): _*)
  }

  /** Asymmetric containment C(A→B) = |A∩B| / |A|, one row per passing
    * direction (contained_id, container_id) — the quote/subset detector
    * that symmetric Jaccard structurally misses: a short document wholly
    * embedded in a much larger one has J ≈ |A|/|B| but containment 1.0.
    * The unordered pair join runs ONCE and each pair fans out into its
    * two directional tests via a 2-element explode — never a doubled
    * join. Exact dups emit both directions at 1.0. */
  private[graft] case object Containment extends Overlap {
    val columns = Seq("contained_id", "container_id", "containment")

    /** Some direction passes iff n ≥ tau·min(|A|,|B|); there is no
      * size-ratio test (a tiny doc inside a huge one is the target). */
    def passes(tau: Double, sa: Column, sb: Column, n: Column): Column =
      atLeastTau(n, least(sa, sb), tau)

    def emit(pairs: DataFrame, tau: Double): DataFrame = {
      def direction(from: String, to: String, size: String) =
        struct(col(from).as(columns(0)), col(to).as(columns(1)),
          ratio(col("n_inter"), col(size)).as(columns(2)))
      pairs
        .select(explode(array(direction("id_a", "id_b", "sa"),
          direction("id_b", "id_a", "sb"))).as("d"))
        .select(columns.map(c => col(s"d.$c")): _*)
        .filter(col(columns(2)) >= tau)
    }
  }

  /** The all-pairs producer of [[overlapPairs]]; specs force one. */
  private[graft] sealed trait Tier
  private[graft] case object Auto extends Tier
  private[graft] case object Postings extends Tier
  private[graft] case object Bitmap extends Tier

  /** Exact n-gram (word-bigram) Jaccard similarity pairs ≥ tau
    * ([[overlapPairs]] under [[Jaccard]]). */
  def jaccardPairsAuto(docs: DataFrame, tau: Double): DataFrame =
    overlapPairs(docs, Jaccard, tau)

  /** Asymmetric containment pairs (contained, container) with
    * C ≥ tau ([[overlapPairs]] under [[Containment]]). */
  def containmentPairsAuto(docs: DataFrame, tau: Double): DataFrame =
    overlapPairs(docs, Containment, tau)

  /** Exact bigram-Jaccard verification of an EXPLICIT candidate pair set
    * ([[verifyPairs]] under [[Jaccard]]). */
  def jaccardVerifyPairs(docs: DataFrame, cand: DataFrame,
                         tau: Double): DataFrame =
    verifyPairs(docs, cand, Jaccard, tau)

  /** The exact-overlap join core: all pairs of `docs` whose bigram
    * overlap ratio under `m` is ≥ tau. The core has three producers,
    * each yielding scored pairs (id_a, id_b, sa, sb, n_inter) for the
    * measure to emit; this method runs one of the two all-pairs ones:
    *
    * | measure | producer | work | selected when |
    * |---------|----------|------|---------------|
    * | Jaccard, Containment | postings self-join | Σ_f df_f² join rows | every corpus the bitmap rule rejects |
    * | Jaccard, Containment | bitmap pair scan | n²/2 popcounts, broadcast | vocab ≤ [[BitmapVocabLimit]] (4096) and the bitmaps fit the broadcast cap |
    * | Jaccard ([[jaccardVerifyPairs]]), Containment (specs) | candidate verifier ([[verifyPairs]]) | O(\|cand\| · set size) | the caller holds candidate pairs (LSH, winnowing) |
    *
    * Dense small vocabularies — this synthetic corpus' 961 bigrams — make
    * every posting list long, so the self-join's Σ df² explodes (286 s vs
    * the bitmap's seconds at sf0.1); sparse/Zipfian vocabularies keep the
    * posting lists short. The all-pairs tiers are the verification
    * tier: at 100 TB they run after a candidate generator bounds the
    * pair space.
    *
    * The postings are checkpointed once: they feed the ONE plan-choice
    * aggregation (vocabulary size and doc count — scalar stats, not a
    * data collect) and 2-3 branches of the chosen pair plan, which would
    * otherwise each re-tokenize the corpus. */
  private[graft] def overlapPairs(docs: DataFrame, m: Overlap, tau: Double,
                                  tier: Tier = Auto): DataFrame = {
    val posts = bigramPostings(docs).localCheckpoint(true)
    val (vocab, nDocs) = postingStats(posts)
    val bitmap = tier == Bitmap || tier == Auto &&
      vocab <= BitmapVocabLimit && bitmapBroadcastFits(vocab, nDocs)
    if (vocab == 0) m.empty(docs.sparkSession)
    else if (bitmap) m.emit(bitmapPairs(posts, vocab.toInt, m, tau), tau)
    else m.emit(postingsPairs(posts), tau)
  }

  private val BitmapVocabLimit = 4096

  /** One aggregation job for both plan-choice statistics (vocabulary size
    * and posting-bearing doc count). */
  private def postingStats(posts: DataFrame): (Long, Long) = {
    val r = posts.agg(count_distinct(col("feat")),
      count_distinct(col("doc_id"))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The bitmap pair scan broadcasts every doc's bitmap: that only fits
    * when nDocs × vocab/8 is genuinely small. A corpus over the cap takes
    * the shuffle-based postings join instead of running out of heap. */
  private val MaxBroadcastBytes = 512L << 20
  private def bitmapBroadcastFits(vocab: Long, nDocs: Long): Boolean =
    nDocs * (((vocab + 63) / 64) * 8 + 48) <= MaxBroadcastBytes

  /** Postings self-join producer: |A∩B| from the join on shared
    * features, set sizes from one aggregation. */
  private def postingsPairs(posts: DataFrame): DataFrame = {
    val sizes = posts.groupBy("doc_id").agg(count(lit(1)).as("set_size"))
    posts.as("a")
      .join(posts.as("b"),
        col("a.feat") === col("b.feat") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col("doc_id").as("id_a"), col("set_size").as("sa")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("set_size").as("sb")), "id_b")
  }

  /** Bitmap pair-scan producer: each doc's feature set packs into
    * ⌈vocab/64⌉ longs over a dense dictionary, and |A∩B| is
    * popcount(A&B) — a codegen'd loop over a few dozen words per pair
    * (BitmapExpressions.BitmapAndCount) under a broadcast pair join.
    * The measure's bound goes INTO the join condition: the nested-loop
    * join then only materializes output rows for passing pairs (a
    * handful) instead of copying all O(n²) candidate rows downstream. */
  private def bitmapPairs(posts: DataFrame, vocab: Int, m: Overlap,
                          tau: Double): DataFrame = {
    val dict = posts.select("feat").distinct()
      .withColumn("fid",
        (row_number().over(Window.orderBy("feat")) - 1).cast("int"))
    val bitmaps = posts.join(broadcast(dict), "feat")
      .groupBy("doc_id").agg(collect_set(col("fid")).as("fids"))
      .select(col("doc_id"), size(col("fids")).as("set_size"),
        graft.functions.BitmapExpressions.bitmap_from_bits(
          col("fids"), (vocab + 63) / 64).as("bm"))
    // the probe side must stay spread across cores: rows are few but each
    // drives |corpus| comparisons, and AQE would coalesce the tiny
    // aggregation output to one partition, serializing the whole pair scan
    val par = posts.sparkSession.sparkContext.defaultParallelism
    val a = bitmaps.repartition(par).select(col("doc_id").as("id_a"),
      col("set_size").as("sa"), col("bm").as("ba"))
    val b = bitmaps.select(col("doc_id").as("id_b"),
      col("set_size").as("sb"), col("bm").as("bb"))
    val n = graft.functions.BitmapExpressions.bitmap_and_count(
      col("ba"), col("bb"))
    a.join(broadcast(b),
        col("id_a") < col("id_b") && m.passes(tau, col("sa"), col("sb"), n))
      .select(col("id_a"), col("id_b"), col("sa"), col("sb"),
        n.as("n_inter"))
  }

  /** Candidate-verifier producer: the measure's rows for an EXPLICIT
    * candidate pair set (id_a, id_b) — the 100 TB production tier. Per-doc
    * feature arrays join onto the pairs (two doc_id hash joins) and
    * |A∩B| is a codegen'd `array_intersect`, so work is
    * O(|cand| · set size) with NO postings self-join: the Σ df² term that
    * makes the all-pairs tiers grow super-linearly on clustered corpora
    * never appears. Same features and ratio as [[overlapPairs]], so for
    * any candidate pair the emitted row is identical. */
  private[graft] def verifyPairs(docs: DataFrame, cand: DataFrame,
                                 m: Overlap, tau: Double): DataFrame = {
    // the candidate tier (typically a corpus-wide LSH bucket join) is
    // the expensive input — checkpoint the 2-column pair list once so
    // the semi-join below AND the returned join plan both read the
    // materialized rows instead of re-running LSH per consumer.
    // localCheckpoint, NOT Checkpoints.materialize: these are
    // transient intra-query materializations the returned plan reads
    // (no caller could ever dropRound them), so a reliable round here
    // would be an unreclaimable DFS file per invocation — and the
    // iteration-resume durability argument doesn't apply to a
    // single-query scratch frame
    val pairs = cand.select("id_a", "id_b").localCheckpoint(true)
    // featurize ONLY the docs the candidate tier implicated (at corpus
    // scale candidates touch a small fraction of docs — without the
    // semi-join the tokenize scan still runs corpus-wide), and
    // materialize once: the two join branches below would otherwise
    // re-expand the featurization subtree twice
    val candDocs = docs.join(
      pairs.select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .distinct(),
      Seq("doc_id"), "left_semi")
    val feats = candDocs.select(col("doc_id"),
      bigramFeatures(col("text")).as("fs")).localCheckpoint(true)
    scoreFeaturePairs(pairs
      .join(feats.select(col("doc_id").as("id_a"), col("fs").as("fa")), "id_a")
      .join(feats.select(col("doc_id").as("id_b"), col("fs").as("fb")), "id_b"),
      m, tau)
  }

  /** Per-pair scoring of (id_a, id_b, fa, fb) rows carrying both docs'
    * [[bigramFeatures]] arrays. A pair with a featureless side drops
    * first: the postings tiers never materialize it, and ANSI mode makes
    * its 0/0 an error rather than a NULL. */
  private[graft] def scoreFeaturePairs(pairs: DataFrame, m: Overlap,
                                       tau: Double): DataFrame =
    m.emit(pairs
      .filter(size(col("fa")) > 0 && size(col("fb")) > 0)
      .select(col("id_a"), col("id_b"), size(col("fa")).as("sa"),
        size(col("fb")).as("sb"),
        size(array_intersect(col("fa"), col("fb"))).as("n_inter")), tau)

  /** documents ∪ the FIRST HALF (by characters) of doc_id < 20 as new
    * ids — the containment plant: a truncated copy is near-fully
    * contained in its original (its only novel bigram is the one that
    * may straddle the cut) while its symmetric Jaccard is only ~0.5,
    * exactly the regime [[Containment]] exists for. Oracle
    * recomputes the same plant with substr/len (both engines count
    * characters). */
  def withContainedDups(docs: DataFrame): DataFrame = {
    val base = docs.select(
      guardPlantWindow(col("doc_id")).as("doc_id"), col("text"))
    base.union(base.filter(col("doc_id") < PlantCount)
      .select((col("doc_id") + DupIdOffset).as("doc_id"),
        col("text").substr(lit(1), (length(col("text")) / 2).cast("int"))
          .as("text")))
  }

  /** MinHash signature: k min-hashes over 5-byte sliding-window shingles,
    * fused into one codegen'd expression (see MinHashTextSignature — the
    * composed transform/array_min/xxhash64 form is interpreted and was
    * ~20× slower at sf0.1). */
  def minhashSignature(text: Column, k: Int): Column =
    graft.functions.MinHashExpression.minhash_signature(text, 5, k)

  /** Signature width, band count and estimate cut of the verified
    * near-dup tiers ([[incrementalNearDup]] and the streaming ingest,
    * whose settled answers must stay equal). At r = k/bands = 4 a
    * J = 0.9 pair misses all 8 bands with probability ≈ 2e-4. */
  private[graft] val LshK = 32
  private[graft] val LshBands = 8
  private[graft] val LshEstTau = 0.4

  /** `df` with one row per band: `band` in [0, bands) and its
    * `band_key`, the hash of that band's k/bands signature entries. */
  private[graft] def withBandKeys(df: DataFrame, sig: String, k: Int,
                                  bands: Int): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    df.withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("band_key", xxhash64(col("band"),
        slice(col(sig), col("band") * r + 1, lit(r))))
  }

  /** Jaccard estimate of two k-wide signatures: their agreeing-entry
    * fraction, rounded to 6 dp (the native agree-count — the per-pair
    * interpreted zip_with+filter was the last HOF in a pairwise path). */
  private[graft] def minhashEstimate(sa: Column, sb: Column, k: Int): Column =
    round(graft.functions.MinHashExpression.sig_agree_count(sa, sb)
      .cast("double") / k, 6)

  /** Shared LSH banding tier for the self-join dedup path and the
    * asymmetric cross-split audit path.
    *
    * The `repartition(doc_id)` is a materialization fence: ONE exchange
    * materializes each signature once, and every consumer (band keys +
    * both estimate-join sides) reads that exchange instead of re-running
    * the minhash (same CollapseProject hazard the simhash path
    * documents). Band keys carry only scalars — (doc_id, band, key) is
    * ~24 bytes/row vs shuffling the k-long signature array bands× per
    * doc. The explicit-N repartition on the bucket keys defeats AQE
    * coalescing: the keys frame is MBs of scalars, so AQE would fold
    * the bucket join to one partition and serialize the in-bucket
    * probing (measured 23 s → 1.8 s on the simhash tier); explicit
    * numPartitions is exempt, and ReuseExchange still shares the
    * exchange. `extraCols` ride through both frames. */
  private def minhashKeyed(docs: DataFrame, k: Int, bands: Int,
                           extraCols: Seq[String] = Nil): (DataFrame, DataFrame) = {
    val sigs = docs.select(col("doc_id") +:
        minhashSignature(col("text"), k).as("sig") +: extraCols.map(col): _*)
      .repartition(col("doc_id"))
    val spread = docs.sparkSession.sessionState.conf.numShufflePartitions
    val keys = withBandKeys(sigs, "sig", k, bands)
      .select(("doc_id" +: "band" +: "band_key" +: extraCols).map(col): _*)
      .repartition(spread, col("band"), col("band_key"))
    (sigs, keys)
  }

  /** Asymmetric MinHash+LSH: near-dup candidate pairs ACROSS a boolean
    * split (test vs train) — the candidate tier of the near-dup leakage
    * audit. Band keys of the small test side join band keys of the train
    * side, so the bucket join is |test|·bucket-sized, never corpus²:
    * at 100 TB the test set is a fixed eval suite and this plan touches
    * each train bucket once per colliding test doc. Same banding, same
    * exchange reuse, same estimate verify as [[minhashLshPairs]]. */
  def minhashLshPairsAcross(docs: DataFrame, isTestCol: String, k: Int,
                            bands: Int, estTau: Double): DataFrame = {
    val (sigs, keys) = minhashKeyed(docs, k, bands, Seq(isTestCol))
    val t = keys.filter(col(isTestCol)).drop(isTestCol)
    val tr = keys.filter(!col(isTestCol)).drop(isTestCol)
    val cand = t.as("a")
      .join(tr.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_key") === col("b.band_key"))
      .select(col("a.doc_id").as("test_id"), col("b.doc_id").as("train_id"))
      .distinct()
    cand
      .join(sigs.select(col("doc_id").as("test_id"), col("sig").as("sig_a")),
        "test_id")
      .join(sigs.select(col("doc_id").as("train_id"), col("sig").as("sig_b")),
        "train_id")
      .withColumn("est_jaccard", minhashEstimate(col("sig_a"), col("sig_b"), k))
      .filter(col("est_jaccard") >= estTau)
      .select("test_id", "train_id", "est_jaccard")
  }

  /** MinHash+LSH near-dup pairs: band the k-wide signature into `bands`
    * rows-per-band groups, bucket-join on (band index, band hash), then
    * keep candidates whose signature-equality fraction estimates
    * Jaccard ≥ tau. No cross join: candidates only from equal buckets. */
  def minhashLshPairs(docs: DataFrame, k: Int, bands: Int, tau: Double): DataFrame = {
    val (sigs, keys) = minhashKeyed(docs, k, bands)
    val cand = keys.as("a")
      .join(keys.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    // signatures rejoin only for the bounded candidate set; sigs is
    // already hash-partitioned on doc_id, so these joins reuse the fence
    // exchange rather than shuffling the corpus again
    cand
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("est_jaccard", minhashEstimate(col("sig_a"), col("sig_b"), k))
      .filter(col("est_jaccard") >= tau)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Driver-checkable MinHash invariant: the exact-Jaccard tier (J ≥ tau)
    * semi-joined against the MinHash+LSH candidate tier. MinHash with
    * fixed hash functions is deterministic, and on a corpus whose passing
    * pairs sit well above tau (here all J ≥ 0.9 — planted near-dups) the
    * LSH tier finds every exact pair, so the result EQUALS the exact tier
    * — which ANSI SQL can recompute. That turns the non-SQL-expressible
    * signature/banding/estimate code into a hash-checkable query: break
    * any of it and pairs drop out of the semi-join.
    *
    * CORPUS DEPENDENCE (triage note): equality with the exact tier holds
    * only while LSH recall is exactly 1 on the gated corpus. With
    * k=32/bands=8 (r=4) a J=0.9 pair misses all 8 bands with probability
    * (1-0.9^4)^8 ≈ 2e-4 under the fixed hash constants — zero on the
    * CURRENT testdata, but regenerating testdata or touching
    * tokenization/hash constants can flip the driver's hash check red
    * with no signature/banding bug. If this row ever goes red right
    * after a testdata regen, suspect corpus drift first. */
  def minhashAgreement(docs: DataFrame, tau: Double, k: Int, bands: Int,
                       estTau: Double): DataFrame =
    jaccardPairsAuto(docs, tau)
      .join(minhashLshPairs(docs, k, bands, estTau).select("id_a", "id_b"),
        Seq("id_a", "id_b"), "left_semi")

  /** Driver-checkable SimHash invariant — same shape as
    * [[minhashAgreement]]: the exact-Jaccard tier semi-joined against the
    * SimHash candidate tier. Unlike MinHash the banding here is NOT
    * probabilistic — pigeonhole guarantees every pair within `maxDist`
    * Hamming shares a whole chunk — so the only corpus dependence is that
    * the planted near-dup pairs (J ≥ tau) also land within `maxDist` on
    * the 62-bit fingerprint — measured exact-tier distances top out at 8
    * (sf0.01) / 13 (sf0.001), so gate callers pass 16 for ~2× margin
    * against corpus drift. Breaking the native SimHashFeatures
    * expression, the chunking, or the Hamming threshold drops pairs from
    * the semi-join and flips the driver's hash check. */
  def simhashAgreement(docs: DataFrame, tau: Double, maxDist: Int): DataFrame =
    jaccardPairsAuto(docs, tau)
      .join(simhashPairs(docs, maxDist).select("id_a", "id_b"),
        Seq("id_a", "id_b"), "left_semi")

  /** 62-bit SimHash over the word-bigram multiset (62 keeps the packed
    * value positive under ANSI long arithmetic). Bit b is the sign of
    * Σ_features ±1 (hash bit b of the feature), repetitions weighting
    * naturally via the non-distinct feature array. Evaluated by the
    * native single-pass SimHashFeatures expression (the composed
    * 62-aggregate form re-hashed every feature per bit, interpreted). */
  def simhash(text: Column, bits: Int = 62): Column =
    graft.functions.SimHashExpression.simhash_features(
      wordNgrams(tokenize(text), 2), bits)

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, found by
    * multi-index banding: the fingerprint splits into m = maxDist + r
    * contiguous chunks and buckets key on every r-combination of chunks
    * — pigeonhole: ≤ maxDist differing bits hit ≤ maxDist chunks, so ≥ r
    * chunks agree and some whole r-combo matches; candidates come from
    * equal-key buckets, never a cross join. r auto-escalates past 1 only
    * when the wider key pays for the extra combo rows
    * ([[chooseChunksPerKey]]): at small maxDist the single-chunk key is
    * 62/(maxDist+1) bits — few enough distinct values that every doc
    * collides with every other, which is what turned the bucket join
    * quadratic on the 10× ScaleStress corpus.
    *
    * The 62 bits are partitioned into CONTIGUOUS VARIABLE-WIDTH chunks
    * with boundaries `i*62/nChunks` (integer division), so every chunk is
    * a real, disjoint bit range for any nChunks ≤ 62. A fixed-width
    * `ceil(62/nChunks)` scheme breaks when nChunks*chunkBits > 62: the
    * last chunk's shift reaches 64, which the JVM reduces mod 64 to a
    * shift of 0, silently aliasing it onto chunk 0 — at maxDist=16 that
    * left only 16 effective chunks and a pigeonhole guarantee of 15. */
  def simhashPairs(docs: DataFrame, maxDist: Int): DataFrame =
    simhashPairsFromSig(
      docs.select(col("doc_id"), simhash(col("text")).as("sh")), maxDist)

  /** The banding + bucket-join stage of [[simhashPairs]] over a
    * precomputed `(doc_id, sh)` signature frame — split out so tests can
    * plant adversarial fingerprints at exact Hamming distances (the
    * text→signature hash makes that impossible upstream).
    *
    * `groupCols` (optional) restricts pairing to rows that agree on the
    * named columns — e.g. the multimodal tier passes `modality` so an
    * image fingerprint is never bucketed against an audio one. Group
    * columns join by equality alongside the chunk key (so they also
    * shrink the buckets) and ride through to the output, taken from the
    * `a` side. */
  /** Pick how many chunks each bucket key concatenates (the multi-index
    * width r): splitting into m = maxDist + r chunks and keying on every
    * C(m, r) combination keeps the pigeonhole guarantee (≤ maxDist
    * differing chunks ⇒ ≥ r agreeing chunks ⇒ some r-combo agrees
    * wholly) while the key widens from 62/(maxDist+1) to r·62/(maxDist+r)
    * bits. The in-bucket probe cost coefficient is
    * C(m,r) / 2^(r·62/m) · n² — escalate r only while the combo count
    * stays shuffle-sane (≤ 64 rows per doc) and the probe coefficient
    * improves ≥ 4× (for maxDist=8: r=2 gives 45 combos and a 9× probe
    * reduction; for maxDist=16, C(18,2)=153 buys only 1.07× — stay r=1). */
  private[graft] def chooseChunksPerKey(maxDist: Int): Int = {
    def combos(r: Int) = (1 to r).map(i => (maxDist + r - i + 1).toDouble / i).product
    def coeff(r: Int) = combos(r) / math.pow(2.0, r * 62.0 / (maxDist + r))
    (2 to 3).foldLeft(1) { (best, r) =>
      if (maxDist + r <= 62 && combos(r) <= 64 && coeff(r) < coeff(best) / 4) r
      else best
    }
  }

  def simhashPairsFromSig(sigs: DataFrame, maxDist: Int,
                          groupCols: Seq[String] = Nil,
                          chunksPerKey: Int = 0): DataFrame = {
    val r = if (chunksPerKey > 0) chunksPerKey else chooseChunksPerKey(maxDist)
    val nChunks = maxDist + r
    require(nChunks <= 62,
      s"maxDist=$maxDist with $r chunks per key needs $nChunks chunks; a 62-bit fingerprint supports at most 62")
    // repartition = a materialization fence: without it CollapseProject
    // pushes the simhash expression below the chunk explode and the
    // joins, recomputing it nChunks×2 times per doc (32 s → 3 s at
    // sf0.1); with it each signature is computed once pre-shuffle and
    // ReuseExchange shares the one exchange across every consumer below.
    // Keyed on (sh, groupCols) so the class aggregate, the within-class
    // self-join, and both member-expansion joins all reuse the same
    // partitioning instead of shuffling the corpus again. EXPLICIT N
    // (r10, the chunked-frame guard extended): a bare repartition(cols)
    // is fair game for AQE coalescing, and the r8/r9 bench noisy-trio
    // investigation measured this operator's run-to-run spread at 4.96×
    // with AQE free to re-plan vs 1.19× with a static plan — the
    // variance was AQE folding this few-MB exchange differently across
    // runs and serializing the self-join/expansion probes behind it.
    val spread = sigs.sparkSession.sessionState.conf.numShufflePartitions
    val classKeys = col("sh") +: groupCols.map(col)
    val members = sigs
      .select(col("doc_id") +: col("sh") +: groupCols.map(col): _*)
      .repartition(spread, classKeys: _*)
    // Hamming-0 class collapse: rows with an IDENTICAL fingerprint (and
    // group columns) band identically, so the bucket join needs only one
    // representative per distinct signature. A class of c near-identical
    // rows (mass boilerplate, replicated media, exact re-crawls)
    // contributes 1 banded row instead of c — in-bucket probe work drops
    // from Σ(member-bucket)² to Σ(class-bucket)², which is what turned
    // quadratic at 10× on the dup-heavy ScaleStress corpus. The full
    // pair set is reconstructed EXACTLY below: within-class pairs are
    // Hamming 0 by definition, and every cross-class member pair has its
    // reps' distance (equal fingerprints ⇒ equal XOR).
    val classes = members.select(classKeys: _*).distinct()
    // one bucket space per r-combination of chunks; the key hashes the
    // combo's chunk values together (a hash collision only ADDS a
    // candidate — the in-join hamming filter rejects it — never loses
    // one, so exactness is untouched)
    def chunkVal(i: Int): Column = {
      val lo = i * 62 / nChunks
      val hi = (i + 1) * 62 / nChunks
      call_function("shiftrightunsigned", col("sh"), lit(lo))
        .bitwiseAND(lit((1L << (hi - lo)) - 1))
    }
    val spaces = (0 until nChunks).combinations(r).zipWithIndex.map {
      case (combo, id) =>
        struct(lit(id).as("space"),
          xxhash64(lit(id) +: combo.map(chunkVal): _*).as("chunk_key"))
    }.toSeq
    // explicit-N repartition on the bucket keys: the chunked frame is a
    // few MB of scalar rows, so AQE's partition coalescing folds the
    // bucket self-join to ONE partition and serializes the O(bucket²)
    // probe work — measured 23 s → 1.8 s at ScaleStress 10× from this
    // re-spread alone (same hazard the embedding pair scan documents).
    // Explicit numPartitions is exempt from AQE coalescing; both join
    // sides read the same exchange via ReuseExchange.
    val chunked = classes.select(Seq(col("sh"),
        explode(array(spaces: _*)).as("c")) ++ groupCols.map(col): _*)
      .select(Seq(col("sh"), col("c.space").as("space"),
        col("c.chunk_key").as("chunk_key")) ++ groupCols.map(col): _*)
      .repartition(spread, col("space"), col("chunk_key"))
    // the hamming threshold goes INTO the join condition: chunk keys
    // span only `2^keyBits` distinct values, so buckets are big and the
    // raw bucket join yields O(bucket²) candidate rows — evaluating the
    // distance inside the join materializes only true near-dup rows
    // (the XOR+popcount runs per probed pair either way; what it saves
    // is copying millions of losing candidates downstream into distinct)
    val hamming = bit_count(col("a.sh").bitwiseXOR(col("b.sh")))
    val joinCond = groupCols.foldLeft(
        col("a.space") === col("b.space") &&
        col("a.chunk_key") === col("b.chunk_key") &&
        col("a.sh") < col("b.sh") &&
        hamming <= maxDist) { (c, g) =>
      c && col(s"a.$g") === col(s"b.$g")
    }
    // distinct classes within a group have distinct sh, so `a.sh < b.sh`
    // yields each unordered class pair once; distinct() dedups only
    // multi-chunk matches of the SAME class pair (classes-sized, not
    // members-sized)
    val repPairs = chunked.as("a")
      .join(chunked.as("b"), joinCond)
      .select(Seq(col("a.sh").as("sh_a"), col("b.sh").as("sh_b")) ++
        groupCols.map(g => col(s"a.$g").as(g)) ++ Seq(hamming.as("hamming")): _*)
      .distinct()
    def memb(side: String) = members.select(
      col("doc_id").as(s"${side}_id") +: col("sh").as(s"sh_$side") +:
        groupCols.map(col): _*)
    val cross = repPairs
      .join(memb("a"), "sh_a" +: groupCols)
      .join(memb("b"), "sh_b" +: groupCols)
      .select(Seq(least(col("a_id"), col("b_id")).as("id_a"),
        greatest(col("a_id"), col("b_id")).as("id_b")) ++
        groupCols.map(col) ++ Seq(col("hamming")): _*)
    val within = members.as("x")
      .join(members.as("y"), groupCols.foldLeft(
          col("x.sh") === col("y.sh") &&
          col("x.doc_id") < col("y.doc_id")) { (c, g) =>
        c && col(s"x.$g") === col(s"y.$g")
      })
      .select(Seq(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b")) ++
        groupCols.map(g => col(s"x.$g").as(g)) ++
        Seq(lit(0).as("hamming")): _*)
    cross.unionByName(within)
  }

  /** Embedding near-dup: all pairs with cosine ≥ tau. Brute-force
    * pairwise at test scale (verification tier); the scale path buckets
    * by random-hyperplane LSH first (Similarity.knnLsh). Norms are
    * precomputed once per vector (not once per pair) and the per-pair dot
    * product is the codegen'd native expression — the interpreted
    * zip_with/aggregate formulation was ~50× slower on 2M pairs.
    *
    * PRECONDITION: the right side is broadcast whole — callers must bound
    * the input (vectors ≲ a few hundred MB; i.e. an LSH-bounded candidate
    * set from `minhashLshPairs`/`Similarity.knnLsh`, or a test-scale
    * corpus). On an unbounded corpus this exceeds the broadcast limit by
    * design — run a candidate generator first; that tiering, not a
    * silent shuffle fallback into an O(n²) cartesian, is the scale path. */
  def embeddingNearDupPairs(emb: DataFrame, tau: Double): DataFrame = {
    import graft.functions.VectorExpressions.dot_native
    val e = emb.select(col("vec_id"),
        VectorFunctions.toDoubleVec(col("embedding")).as("v"))
      // 1e-9 norm floor: a zero vector must not turn the cosine into
      // an ANSI division error (Similarity.knnBruteForce's comment)
      .withColumn("norm",
        greatest(sqrt(dot_native(col("v"), col("v"))), lit(1e-9)))
    // spread the probe side: a single-file parquet scan arrives as one
    // partition, which would serialize the O(n²) pair scan on one core
    val par = emb.sparkSession.sparkContext.defaultParallelism
    val a = e.repartition(par).select(col("vec_id").as("id_a"),
      col("v").as("va"), col("norm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("norm").as("nb"))
    // threshold inside the join condition: only passing pairs (a handful)
    // materialize out of the pair join, instead of all O(n²) candidates
    val sim =
      round(dot_native(col("va"), col("vb")) / (col("na") * col("nb")), 6)
    // Guard the broadcast (this is the verification tier — meant for
    // LSH-bounded candidate sets, but nothing stops a corpus-wide call):
    // when the build side exceeds the broadcast budget, drop the hint and
    // let the θ-join run as a partitioned nested-loop instead of a
    // driver-side broadcast — same O(n²) work, no driver OOM. One stats
    // job for (count, dim), not two separate scans.
    val stats = e.agg(count(lit(1)), first(size(col("v")))).head()
    val nVec = stats.getLong(0)
    val dim = if (nVec == 0) 0 else stats.getInt(1)
    val build =
      if (nVec * (dim * 8L + 48) <= MaxBroadcastBytes) broadcast(b) else b
    a.join(build, col("id_a") < col("id_b") && sim >= tau)
      .select(col("id_a"), col("id_b"), sim.as("sim"))
  }

  /** Connected components over an undirected pair graph — the step that
    * turns near-dup PAIRS into duplicate CLUSTERS so a pipeline can keep
    * one representative per cluster (pairs alone can't: {a,b},{b,c} must
    * collapse to ONE survivor, not two). Every node is labeled with its
    * component's minimum id: (doc_id, comp), one row per node of a
    * non-self-loop pair.
    *
    * Alternating large-star/small-star [Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014] — diameter-
    * INDEPENDENT: it converges in O(log² n) rounds on any topology,
    * where min-label propagation pays one round per hop of the longest
    * chain (near-dup clusters are copy chains: ~9 rounds on the 10-copy
    * stress clusters), and it needs no diameter cap.
    *
    *   large-star(u): connect every neighbor v > u to
    *                  m = min(Γ(u) ∪ {u});
    *   small-star(u): orient edges toward the smaller endpoint, then
    *                  connect u and its smaller neighbors to their min.
    *
    * Both steps are one groupBy-min + one re-join keyed on node id —
    * never quadratic, and skew-safe: large-star splits a high-degree
    * hub's neighborhood across ITS OWN neighbors' keys instead of
    * funnelling the whole component through one reducer. Fixpoint = the
    * edge set is a star forest (every node points at its component
    * min).
    *
    * Each round is an EAGER localCheckpoint ([[Checkpoints.materialize]]),
    * not a persist: an iterative self-join doubles the LOGICAL plan
    * every round (the previous round's plan lands on both sides of the
    * join), so analysis cost grows exponentially with rounds and with
    * the upstream pair query's plan size — measured 47 s → 121 s across
    * repeated invocations of neardup_pipeline with persist-only lineage.
    * Checkpointing materializes the round AND truncates its plan to a
    * flat scan, keeping every round's plan constant-size; blocks are
    * reclaimed by the ContextCleaner once unreferenced. It also makes
    * the star steps read the (possibly expensive) pair query once, not
    * once per branch. A cluster deployment sets spark.graft.checkpointDir
    * to make every round a RELIABLE checkpoint for executor-loss
    * tolerance ([[Checkpoints]]).
    *
    * Resuming from a stored round ([[Checkpoints.rounds]]) is sound
    * from ANY round: large/small-star preserves connectivity, so the
    * unique fixpoint (the min-rooted star forest) is reachable from
    * every intermediate edge set. The key is the round-0 audit, which
    * the fixpoint check needs anyway. Not converging within `maxIter`
    * rounds exceeds the O(log² n) bound, which indicates a bug, not a
    * deep graph. */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 50)
      : DataFrame = {
    val init = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .filter(col("u") =!= col("v"))
    // canonical orientation u > v; `distinct` bounds the edge set by the
    // input size every round (star steps can emit the same edge from two
    // different neighborhoods)
    def canon(e: DataFrame): DataFrame = e
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // both star steps emit two rows per input row through ONE explode
    // instead of a self-union: a union's branches each re-execute the
    // shared subtree (the symmetrized scan in largeStar, the whole
    // min-join in smallStar) — at 100 TB that was a full extra pass
    // over the edge set per round. Row multisets identical.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(explode(array(
          struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
      val m = sym.groupBy("u")
        .agg(least(min("v"), first("u")).as("m"))
      sym.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("u").agg(min("v").as("m"))
      // u and every smaller neighbor attach to the min; (m,m) self loops
      // from v == m drop in canon()
      e.join(m, "u")
        .select(explode(array(
          struct(col("v").as("u"), col("m").as("v")),
          struct(col("u"), col("m").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
    }
    // Fixpoint check = ONE scan-only aggregate per round over the
    // checkpointed blocks: (cardinality, order-free content fingerprint
    // Σ xxhash64(u,v) mod 2¹²⁸-ish in decimal(38,0) — overflow-safe
    // under ANSI). Both frames are canon()'d distinct sets, so equal
    // count + equal fingerprint decides set equality to the same 64-bit
    // content-hash discipline the pair tiers themselves ride on
    // (bigramPostings' xxhash64 features, the IndexStore content
    // fingerprints): a false fixpoint needs a same-size same-hash-sum
    // distinct edge set — ~2⁻⁶⁴, far below any oracle tolerance. The
    // r18 form ran a separate count job per round PLUS an exceptAll
    // set-difference (a full shuffle + its own action) on every
    // count-tie round — the fixpoint round always ties, so every
    // invocation paid it; r19 profiling put the star closures inside 10+
    // bench queries at ~50 AQE-stage jobs each with ~0.1 s fixed cost
    // per job, and this audit is 1 job/round instead of 2-4 (guide §1.2:
    // remove passes before tuning inside them).
    def audit(e: DataFrame): (Long, String) =
      Audit.fingerprint(e, Seq("u", "v"))
    val edges0 = Checkpoints.materialize(canon(init))
    val fp0 = audit(edges0)
    // Fixpoint = this round's audit equals the previous round's. The
    // round-0 audit above is taken once: it keys the resume store and
    // is the first comparison's baseline.
    var last = Option.empty[(Long, String)]
    val edges = Checkpoints.rounds("components_star",
        Some(s"${fp0._1}-${fp0._2}"), maxIter)(edges0) { (e, _) =>
      canon(smallStar(canon(largeStar(e))))
    } { (e, _) =>
      val fp = if (e eq edges0) fp0 else audit(e)
      val fixed = last.contains(fp)
      last = Some(fp)
      fixed
    }
    // fixpoint edges are (member, root) stars; roots label themselves
    edges.select(col("u").as("doc_id"), col("v").as("comp"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("comp"))
        .distinct())
  }

  /** Driver-gated clustering of the exact-Jaccard near-dup graph:
    * [[connectedComponentsStar]] over [[jaccardPairsAuto]] pairs,
    * labeled by min member id. The oracle recomputes the identical
    * components with a recursive transitive-closure CTE over the same
    * SQL-recomputed pair set, so the star closure is hash-checked end
    * to end. */
  def dedupComponents(docs: DataFrame, tau: Double): DataFrame =
    connectedComponentsStar(jaccardPairsAuto(docs, tau))

  /** Cluster-size histogram over the dedup components — the curation
    * observability view that answers "how duplicated is this corpus"
    * before committing to a keep-one pass (a histogram dominated by huge
    * clusters means boilerplate/template contamination, not organic
    * near-dups). Two vocabulary-bounded re-aggregations over the (tiny)
    * component labels — the corpus-scale work is all in the upstream
    * component computation. */
  def clusterSizeHistogram(docs: DataFrame, tau: Double): DataFrame =
    dedupComponents(docs, tau)
      .groupBy("comp").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  /** [[dedupComponents]] under the name of its `dedup_components_star`
    * query: the star closure is the only closure engine, so both names
    * run the same plan against the same recursive-CTE oracle. */
  def dedupComponentsStar(docs: DataFrame, tau: Double): DataFrame =
    dedupComponents(docs, tau)

  /** Quality-aware keep-one dedup: cluster the near-dup graph, then
    * keep the HIGHEST-QUALITY member of each cluster (ties → min
    * doc_id) instead of an arbitrary or min-id representative — when a
    * document exists in several mutations, a curation pipeline wants
    * the cleanest copy, not whichever happened to get the smallest id.
    * Singleton docs (no near-dup) keep themselves. One row per
    * surviving document: (comp, cluster_size, keep_doc_id,
    * quality_score).
    *
    * Scale shape: the graph work is [[dedupComponentsStar]]'s; the
    * selection is a single hash aggregation on the component label
    * using max(struct(quality, −doc_id)) — partial-aggregated
    * map-side, so a pathological giant cluster never concentrates on
    * one task the way a row_number window would. `quality` is any
    * (doc_id, quality_score) frame (typically
    * [[TextAnalysis.qualityScoreOf]] over the same corpus). */
  def keepBestDedup(docs: DataFrame, quality: DataFrame,
                    tau: Double): DataFrame = {
    val comps = connectedComponentsStar(jaccardPairsAuto(docs, tau))
    val labeled = docs.select("doc_id")
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"))
    labeled
      .join(quality.select(col("doc_id"), col("quality_score")), "doc_id")
      .groupBy("comp")
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(col("quality_score"),
          (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("comp"), col("cluster_size"),
        (-col("best.neg_id")).as("keep_doc_id"),
        col("best.quality_score").as("quality_score"))
      .orderBy("comp")
  }

  /** Cell-bounded cosine near-dup pairs — the candidate+verify core of
    * [[semanticDedup]]. K-means cells (multi-probe, see
    * [[Similarity.cellAssignments]]) bound the pair space to same-cell
    * candidates; exact cosine ≥ τ verifies, with the SAME 6-dp-rounded
    * formula as [[embeddingNearDupPairs]], so the result is a SUBSET of
    * the global pair set by construction — only boundary pairs whose two
    * members share no probed cell can be missed. The self-join shuffles
    * on cell id (never a cross join); per-cell candidate work is
    * quadratic in CELL size, which is the knob: cells grows ~√N so cell
    * populations stay bounded as the corpus scales. */
  def semanticPairs(emb: DataFrame, tau: Double, cells: Int = 8,
                    lloydIters: Int = 2, probes: Int = 3): DataFrame = {
    import graft.functions.VectorExpressions.dot_native
    val assigned =
      Similarity.cellAssignments(emb, cells, lloydIters, probes)
    val a = assigned.select(col("cell"), col("vec_id").as("id_a"),
      col("v").as("va"), col("norm").as("na"))
    val b = assigned.select(col("cell").as("cell_b"),
      col("vec_id").as("id_b"), col("v").as("vb"), col("norm").as("nb"))
    val sim =
      round(dot_native(col("va"), col("vb")) / (col("na") * col("nb")), 6)
    // τ inside the join condition: only passing pairs materialize; the
    // distinct collapses pairs co-bucketed by more than one probed cell
    a.join(b, col("cell") === col("cell_b") &&
        col("id_a") < col("id_b") && sim >= tau)
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** SemDeDup-style semantic deduplication [Abbas et al., 2023,
    * arXiv:2303.09540]: embeddings → k-means cells → within-cell exact
    * cosine pairs → connected components (star tier — diameter-safe) →
    * keep the min-id representative per cluster. Returns the surviving
    * vec_ids.
    *
    * This is the 100 TB shape for embedding dedup: the quadratic tier
    * runs per cell, components run on the (sparse) verified pair graph,
    * and everything upstream is scan-fused assignment. Approximate by
    * design — a τ-pair can straddle cells; multi-probe assignment
    * recovers boundary pairs, and [[semanticDedupGate]] measures exactly
    * what the bounding cost vs the exact tier. */
  def semanticDedup(emb: DataFrame, tau: Double, cells: Int = 8,
                    lloydIters: Int = 2, probes: Int = 3): DataFrame = {
    val dropped =
      connectedComponentsStar(
        semanticPairs(emb, tau, cells, lloydIters, probes))
        .filter(col("comp") =!= col("doc_id"))
        .select(col("doc_id").as("vec_id"))
    emb.select(col("vec_id")).join(dropped, Seq("vec_id"), "left_anti")
  }

  /** Driver-checkable invariants for [[semanticDedup]] — the same
    * pattern as the ANN recall gates: the SQL oracle recomputes the
    * exact quantities (corpus size, global τ-pair count) and re-states
    * the invariants as constant flags, which hash-match exactly when
    *
    *  - `subset_ok`: every cell-bounded pair is in the global pair set
    *    (must hold by construction — same τ, same rounded formula);
    *  - `recall_ok`: the cell-bounded tier found ≥ `recallFloor` of the
    *    global pairs (deterministic per corpus: seeded codebook,
    *    ordered tie-breaks — corpus regeneration, not host variance, is
    *    the only thing that can move it);
    *  - `survivors_ok`: semantic survivors ⊇-count global-closure
    *    survivors (missing a pair can only drop FEWER documents).
    *
    * Counts are driver-side scalars (gate metadata, not data). */
  def semanticDedupGate(emb: DataFrame, tau: Double, cells: Int = 8,
                        lloydIters: Int = 2, probes: Int = 3,
                        recallFloor: Double = 0.75): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    // both pair tiers feed several gate actions below (counts, the
    // tier-agreement fold, closures) — checkpoint each ONCE or the
    // exact tier, the most expensive subquery here, re-runs per
    // action. The two tiers are independent chains: overlap their
    // materializations (guide §2.6)
    val (globalPairs, semPairs) = Audit.parallel(
      embeddingNearDupPairs(emb, tau)
        .select("id_a", "id_b").localCheckpoint(true),
      semanticPairs(emb, tau, cells, lloydIters, probes)
        .localCheckpoint(true))
    // ONE full-join aggregate decides nSem + nHit + nExact (both
    // tiers unique per (id_a, id_b): the θ-join emits each ordered
    // pair once, semanticPairs is distinct — so the full join holds
    // matched + sem-only + exact-only rows exactly once each); the r19
    // form was three separate count/anti-join actions. The two closure
    // counts are independent loops — overlap them, and overlap the
    // pair fold + corpus count against the closures
    val pairAgg = Audit.overlap(semPairs, globalPairs, Seq("id_a", "id_b"))
    val ((nVec, pairRow), (semNonRoot, globalNonRoot)) =
      Audit.parallel(
        Audit.parallel(emb.count(), pairAgg.head()),
        Audit.parallel(
          connectedComponentsStar(semPairs)
            .filter(col("comp") =!= col("doc_id")).count(),
          connectedComponentsStar(globalPairs)
            .filter(col("comp") =!= col("doc_id")).count()))
    val nHit = pairRow.getLong(1)
    val nExact = pairRow.getLong(2)
    val semSurvivors = nVec - semNonRoot
    val globalSurvivors = nVec - globalNonRoot
    Seq((nVec, nExact,
      if (pairRow.getLong(0) == nHit) 1 else 0,
      Audit.recallOk(nHit, nExact, recallFloor),
      if (semSurvivors >= globalSurvivors) 1 else 0))
      .toDF("n_vectors", "n_pairs_exact", "subset_ok", "recall_ok",
        "survivors_ok")
  }

  /** NN-Descent GRAPH candidate tier for semantic dedup — the
    * codebook-free alternative to [[semanticPairs]]'s k-means cells:
    * candidates are the undirected edge set of
    * [[Similarity.knnGraphNnDescent]]'s converged approximate k-NN
    * graph (≤ N·k rows), then each candidate re-verifies through the
    * IDENTICAL 6-dp cosine formula as [[embeddingNearDupPairs]] (the
    * graph's own sims are discarded — unit-vector dots round-trip
    * differently from dot/(na·nb) in the 6th decimal, and subset-by-
    * construction is the gate's first invariant). Two id equi-joins on
    * a graph-bounded pair list; no trained model, no rebuild cycle —
    * where [[semanticPairs]] needs [[Similarity.ivfPqReindexGate]]-style
    * re-provisioning as the corpus outgrows its cells, appended rows
    * here just descend into the existing graph. A τ-pair is missed only
    * when NEITHER endpoint ranks the other in its approximate top-k
    * (dense τ-balls bigger than k truncate — raising k is the knob);
    * components then bridge missed pairs transitively, which is why the
    * survivor gap stays smaller than the pair gap. */
  def semanticPairsGraph(emb: DataFrame, tau: Double,
                         k: Int = 10): DataFrame = {
    import graft.functions.VectorExpressions.dot_native
    val cand = Similarity.knnGraphNnDescent(emb, k)
      .select(least(col("query_id"), col("nn_id")).as("id_a"),
        greatest(col("query_id"), col("nn_id")).as("id_b"))
      .distinct()
    val e = emb.select(col("vec_id"),
        VectorFunctions.toDoubleVec(col("embedding")).as("v"))
      .withColumn("norm",
        greatest(sqrt(dot_native(col("v"), col("v"))), lit(1e-9)))
    val sim =
      round(dot_native(col("va"), col("vb")) / (col("na") * col("nb")), 6)
    cand
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("norm").as("na")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("norm").as("nb")), "id_b")
      .filter(sim >= tau)
      .select("id_a", "id_b")
  }

  /** Semantic dedup over the NN-Descent graph tier: [[semanticDedup]]
    * with [[semanticPairsGraph]] as the candidate+verify stage —
    * components (star tier) + min-id representative, returning the
    * surviving vec_ids. The 100 TB shape when no codebook lifecycle is
    * wanted: graph construction is the candidate cost (per-round
    * ≤ N·(2·buildK)² hash-partitioned rows), verification is two
    * equi-joins on ≤ N·k pairs, and the component graph is sparse. */
  def semanticDedupGraph(emb: DataFrame, tau: Double,
                         k: Int = 10): DataFrame = {
    val dropped =
      connectedComponentsStar(semanticPairsGraph(emb, tau, k))
        .filter(col("comp") =!= col("doc_id"))
        .select(col("doc_id").as("vec_id"))
    emb.select(col("vec_id")).join(dropped, Seq("vec_id"), "left_anti")
  }

  /** [[semanticDedupGate]]'s invariants for the graph tier — same
    * flags, same oracle shape (exact corpus size + global τ-pair count
    * recomputed in SQL, flags restated as constants): subset (must hold
    * by construction — the verify re-runs the exact formula), pair
    * recall ≥ floor vs the global pair set, survivors ⊇-count the
    * global closure's. */
  def semanticDedupGraphGate(emb: DataFrame, tau: Double, k: Int = 10,
                             recallFloor: Double = 0.75): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    // same shape as semanticDedupGate: overlap the two independent
    // pair tiers, fold the three agreement counts into ONE full-join
    // aggregate (both tiers unique per (id_a, id_b)), and overlap the
    // two closure counts (guide §1.2 + §2.6)
    val (globalPairs, graphPairs) = Audit.parallel(
      embeddingNearDupPairs(emb, tau)
        .select("id_a", "id_b").localCheckpoint(true),
      semanticPairsGraph(emb, tau, k).localCheckpoint(true))
    val pairAgg = Audit.overlap(graphPairs, globalPairs, Seq("id_a", "id_b"))
    val ((nVec, pairRow), (graphNonRoot, globalNonRoot)) =
      Audit.parallel(
        Audit.parallel(emb.count(), pairAgg.head()),
        Audit.parallel(
          connectedComponentsStar(graphPairs)
            .filter(col("comp") =!= col("doc_id")).count(),
          connectedComponentsStar(globalPairs)
            .filter(col("comp") =!= col("doc_id")).count()))
    val nHit = pairRow.getLong(1)
    val nExact = pairRow.getLong(2)
    val graphSurvivors = nVec - graphNonRoot
    val globalSurvivors = nVec - globalNonRoot
    Seq((nVec, nExact,
      if (pairRow.getLong(0) == nHit) 1 else 0,
      Audit.recallOk(nHit, nExact, recallFloor),
      if (graphSurvivors >= globalSurvivors) 1 else 0))
      .toDF("n_vectors", "n_pairs_exact", "subset_ok", "recall_ok",
        "survivors_ok")
  }

  /** Frequent-fingerprint cap for the winnowing candidate tier —
    * boilerplate fingerprints shared by more than this many docs are
    * dropped from candidate generation (they pair quadratically; the
    * boilerplate stop-list argument). Interpolated into the oracle. */
  val WinnowDfCap = 50

  /** Winnowing-candidate near-dup tier — the LSH-free alternative with
    * a DETERMINISTIC detection guarantee: two docs sharing any run of
    * WinnowW + WinnowK − 1 = 7 tokens share a selected fingerprint
    * (Schleimer et al.'s theorem), so candidate recall for
    * contiguous-overlap duplicates is 1 BY CONSTRUCTION — QUALIFIED by
    * the stop list below: the guarantee holds only for pairs whose
    * shared run selects at least one fingerprint with df ≤ `dfCap`.
    * A pair whose ONLY shared runs are corpus boilerplate (every
    * selected fingerprint more frequent than the cap) is dropped with
    * the stop list — deliberate (those pairs are boilerplate overlap,
    * not duplication), but no longer deterministic recall 1; where
    * MinHash/SimHash recall is probabilistic everywhere, this tier's
    * recall is exact below the cap and 0 above it. Candidates = doc
    * pairs sharing ≥1 sub-cap fingerprint (a postings join on 8-byte
    * hashes, frequent-fp stop list capping bucket blowup), then the
    * candidate-bounded exact verifier scores them — the same
    * verify-the-candidates shape as the LSH pipeline, so work is
    * bounded by the fingerprint-bucket output, never corpus². */
  def winnowNearDupPairs(docs: DataFrame, tau: Double,
                         dfCap: Int = WinnowDfCap): DataFrame = {
    val fps = TextAnalysis.winnowFingerprintsOf(docs)
      .select(col("doc_id"), col("gram_hash")).distinct()
    val rare = fps.groupBy("gram_hash")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
      .select("gram_hash")
    val pruned = fps.join(rare, Seq("gram_hash"))
    val cand = pruned.select(col("gram_hash"), col("doc_id").as("id_a"))
      .join(pruned.select(col("gram_hash"), col("doc_id").as("id_b")),
        Seq("gram_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    jaccardVerifyPairs(docs, cand, tau)
  }

  /** The full near-dup pipeline, end to end, as ONE query — the 100 TB
    * architecture this module's scaladoc describes, actually composed:
    *
    *   1. candidate generation: MinHash LSH buckets, O(rows × bands);
    *   2. exact verification of the CANDIDATE PAIRS ONLY
    *      ([[jaccardVerifyPairs]]): work is bounded by the LSH output,
    *      never by corpus pair structure. (The pre-r9 form ran the full
    *      all-pairs exact tier and semi-joined candidates afterwards —
    *      identical output, but the postings self-join's Σ df² grew
    *      ~25× at 10× on the clustered stress corpus and drove the
    *      pipeline's 5.9× wall-time slope, the worst in SURVEY §9.1;
    *      restricting the WORK, not just the result, is the fix.)
    *   3. clustering: connected components over the verified pairs;
    *   4. keep-one: drop every doc whose component label isn't itself.
    *
    * Returns the surviving corpus (doc_id + content fingerprint). On the
    * gated corpus LSH recall is 1, so survivors == corpus minus the
    * non-min members of the exact tier's closure — which the oracle
    * recomputes in SQL (pairs → recursive closure → EXCEPT); the
    * verified SET is unchanged from the semi-join form because
    * {J ≥ τ} ∩ cand ≡ {p ∈ cand : J(p) ≥ τ}. */
  def nearDupPipeline(docs: DataFrame, tau: Double, k: Int, bands: Int,
                      estTau: Double): DataFrame = {
    val cand = minhashLshPairs(docs, k, bands, estTau)
    val verified = jaccardVerifyPairs(docs, cand, tau)
    // near-dup clusters are copy CHAINS (copy k matches k±1): the star
    // closure collapses them in O(log) rounds, where one round per
    // chain hop would be ~9 rounds on the 10-copy stress clusters
    val dropped = connectedComponentsStar(verified.select("id_a", "id_b"))
      .filter(col("comp") =!= col("doc_id"))
      .select(col("doc_id"))
    docs.join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), md5(col("text")).as("content_fp"))
  }

  /** Incremental-ingest near-dup filter — the daily-crawl shape: which
    * FRESH documents near-duplicate the existing BASE corpus (and
    * should be dropped before ingest). The streamed exact tier
    * (streamedDedupAgainstBase) catches byte-identical re-crawls; this
    * is its near-dup complement, run batch-side per ingest increment.
    *
    * Plan shape at 100 TB: the fresh increment is small relative to the
    * corpus, so candidates come from the ASYMMETRIC LSH tier
    * ([[minhashLshPairsAcross]] — |fresh|·bucket-sized, never corpus²),
    * verified pair-by-pair ([[jaccardVerifyPairs]] — featurization
    * bounded by implicated docs). Verified tier pinned to τ = 0.9, the
    * splitLeakageNearDup convention: banded-LSH miss probability there
    * is ~(1−0.9⁴)⁸ ≈ 2e-4 per pair — deterministic per corpus, tiny
    * but NOT zero, so (same triage note as minhashAgreement) a red
    * gate right after a testdata regen means an organic near-J=0.9
    * cross-increment pair landed in the miss set, not a banding bug.
    *
    * Caller contract: base and fresh doc_id spaces are disjoint.
    * Returns one row per DROPPED fresh doc: (doc_id, dup_of = smallest
    * matching base id, jaccard = that pair's exact J); survivors are
    * `fresh anti-join this`. */
  def incrementalNearDup(base: DataFrame, fresh: DataFrame,
                         tau: Double = IncrementalTau): DataFrame = {
    val flagged = base.select(col("doc_id"), col("text"))
      .withColumn("__fresh", lit(false))
      .unionByName(fresh.select(col("doc_id"), col("text"))
        .withColumn("__fresh", lit(true)))
    val cand = minhashLshPairsAcross(flagged, "__fresh", LshK, LshBands,
      LshEstTau)
      .select(col("test_id").as("id_a"), col("train_id").as("id_b"))
    val verified = jaccardVerifyPairs(flagged, cand, tau)
      .select(col("id_a").as("doc_id"), col("id_b").as("base_id"),
        col("jaccard"))
    val w = Window.partitionBy("doc_id").orderBy("base_id")
    verified.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("base_id").as("dup_of"), col("jaccard"))
  }
}
