package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextAnalysisSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("gram_covers matches the composed array_sort+aggregate reference, ties and unicode included") {
    import org.apache.spark.sql.Column
    // the pre-r20 composed forms, verbatim — the reference the native
    // GramCoverExpression must stay bit-identical to
    def topGramCover(sortedGrams: Column): Column =
      aggregate(sortedGrams,
        struct(lit("").as("prev"), lit(0L).as("run"),
          lit(0L).as("best"), lit("").as("bg")),
        (st, g) => {
          val r = when(g === st("prev"), st("run") + 1L).otherwise(lit(1L))
          struct(g.as("prev"), r.as("run"),
            when(r > st("best"), r).otherwise(st("best")).as("best"),
            when(r > st("best"), g).otherwise(st("bg")).as("bg"))
        },
        st => st("best") * length(st("bg")).cast("long"))
    def dupGramCover(sortedGrams: Column): Column =
      aggregate(sortedGrams,
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("acc")),
        (st, g) => {
          val rep = g === st("prev")
          struct(g.as("prev"),
            when(rep, st("run") + 1L).otherwise(lit(1L)).as("run"),
            (st("acc") + when(rep,
              length(g).cast("long") +
                when(st("run") === 1L, length(g).cast("long"))
                  .otherwise(lit(0L))).otherwise(lit(0L))).as("acc"))
        },
        st => st("acc"))
    val docs = Seq(
      // repeated bigram + count tie between "b c" and "a b"
      "a b c a b c a b",
      // heavy repetition: one gram dominates
      "x y x y x y x y x y",
      // exact count tie between lexicographically distinct grams
      "z w z w q r q r",
      // unicode: numChars != bytes (pins char-based lengths)
      "héllo wörld héllo wörld héllo",
      // shorter than the largest n
      "one two",
      // single token and empty-ish
      "single",
      " ",
      // long mixed doc
      (1 to 50).map(i => s"tok${i % 7}").mkString(" ")
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val specs = (2 to 10).map(n => (n, n <= 4))
    val df = docs.toDF("id", "text")
      .select(col("id"), split(col("text"), " ").as("toks"))
    val refCols = specs.zipWithIndex.map { case ((n, isTop), i) =>
      val sorted = array_sort(TextFunctions.wordNgrams(col("toks"), n))
      (if (isTop) topGramCover(sorted) else dupGramCover(sorted))
        .as(s"c$i")
    }
    val ref = df.select(col("id") +: refCols: _*)
      .collect().map(r => r.getLong(0) ->
        specs.indices.map(i => r.getLong(i + 1))).toMap
    val got = df.select(col("id"),
        graft.functions.GramCoverExpression
          .gram_covers(col("toks"), specs).as("cov"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got.keySet == ref.keySet)
    got.foreach { case (id, vals) =>
      assert(vals == ref(id), s"doc $id: native $vals vs ref ${ref(id)}")
    }
    // the tie case genuinely exercised: doc 2's top-2-gram cover must
    // come from the lexicographically smallest of the tied grams
    assert(ref(2L)(0) == 2L * "q r".length)
  }

  private def ngrams(toks: Seq[String], n: Int): Seq[String] =
    Seq(Tuple1(toks)).toDF("toks")
      .select(TextFunctions.wordNgrams(col("toks"), n).as("g"))
      .collect()(0).getSeq[String](0)

  test("gopher rules: every reject branch fires on its planted doc, clean doc passes") {
    import graft.operators.TextAnalysis
    // one doc per rule violation + one clean doc; each plant is built
    // NOT to trip any other rule (the assertions below pin that)
    val docs = Seq(
      (1L, "the cat and the dog have been to the house of cards with " +
        "plenty people here today"),                          // clean
      (2L, "the of three"),                                   // too short
      (3L, "the of " + Seq.fill(19)("cats").mkString(" ")),   // too long
      (4L, "the of aa bb cc dd ee"),                          // mean len < 3
      (5L, "the of extraordinarily extraordinarily extraordinarily " +
        "extraordinarily extraordinarily"),                   // mean len > 10
      (6L, "the of one two three four # # #"),                // symbol ratio
      (7L, "- the cat sat here\n- of dog ran there"),         // bullet lines
      (8L, "the cat is here...\nof dog is there..."),         // ellipsis lines
      (9L, "the of 1111 2222 3333 4444 5555 6666 7777 8888"), // alpha words
      (10L, "cat dog bird fish cow horse goat sheep"),        // stopwords
      // BOTH symbol ratios at-or-under 0.1 separately (2 hashes, 1
      // ellipsis, 20 words) — the published per-symbol rule passes
      // this doc; the pre-r14 summed rule (10·(2+1) > 20) wrongly
      // rejected it (r13 ADVICE)
      (11L, "the cat and dog have seen ... many things # today # " +
        "plus cats dogs birds fish cows horses goats sheep lions tigers")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRulesOf(docs, minWords = 5, maxWords = 20)
      .as[(String, Long)].collect().toMap
    assert(got === Map(
      "pass_all" -> 2L,
      "reject_word_count" -> 2L,
      "reject_mean_word_len" -> 2L,
      // 2: the '#' plant (3 hashes vs 6 words), plus the ellipsis
      // plant — its two '...' trip the ellipsis-symbol rule alone
      // (2 vs 8 words > 0.1; Gopher counts ellipses anywhere, not
      // just line ends). Doc 11 is NOT here: each of its symbol
      // ratios sits at/below 0.1, rejected only by the old sum
      "reject_symbol_ratio" -> 2L,
      "reject_bullet_lines" -> 1L,
      "reject_ellipsis_lines" -> 1L,
      "reject_alpha_words" -> 1L,
      "reject_stopwords" -> 1L))
    // the gated corpus query: 8 rows, counts conserve (a doc either
    // passes all rules or is counted by >= 1 reject row)
    val corpus = TextAnalysis.gopherRules(spark, "/root/testdata/sf0.001")
      .as[(String, Long)].collect().toMap
    assert(corpus.size === 8)
    val n = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .count()
    assert(corpus("pass_all") +
      corpus.filterKeys(_ != "pass_all").values.sum >= n)
    assert(corpus("pass_all") <= n)
  }

  test("gopher repetition: counts equal an independent plain-Scala model") {
    import graft.operators.TextAnalysis
    // independent model: reference clean_words (\p{Punct} IS the ASCII
    // punctuation set), space-only segment filter (Spark trim strips
    // spaces, not tabs), sliding word n-grams, mode with (count desc,
    // gram asc) tie-break, sum-form duplicate mass
    def cleanWords(text: String): Seq[String] =
      text.replace("\n", " ").replaceAll("\\p{Punct}", "")
        .split(" +").filter(_.nonEmpty).toSeq
    def model(text: String): Map[String, Boolean] = {
      val toks = cleanWords(text)
      val total = toks.mkString(" ").length.toLong
      def segs(sep: String) =
        text.split(sep, -1).toSeq.filter(_.exists(_ != ' '))
      def fracTrip(s: Seq[String], pct: Int) =
        100L * (s.size - s.distinct.size) > pct.toLong * s.size
      def charTrip(s: Seq[String], pct: Int) = {
        val all = s.map(_.length.toLong).sum
        val dis = s.distinct.map(_.length.toLong).sum
        100L * (all - dis) > pct.toLong * all
      }
      def grams(n: Int) =
        toks.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSeq
      def topCover(n: Int): Long = {
        val g = grams(n)
        if (g.isEmpty) 0L
        else {
          val (gram, cnt) = g.groupBy(identity)
            .map { case (k, v) => (k, v.size) }.toSeq
            .sortBy { case (k, c) => (-c, k) }.head
          cnt.toLong * gram.length
        }
      }
      def dupCover(n: Int): Long =
        grams(n).groupBy(identity)
          .collect { case (k, v) if v.size >= 2 => v.size.toLong * k.length }
          .sum
      val lines = segs("\n"); val paras = segs("\n\n")
      Map("reject_dup_line_frac" -> fracTrip(lines, 30),
        "reject_dup_line_chars" -> charTrip(lines, 20),
        "reject_dup_para_frac" -> fracTrip(paras, 30),
        "reject_dup_para_chars" -> charTrip(paras, 20)) ++
        TextAnalysis.RepTopNgram.map { case (n, pct) =>
          f"reject_top_ngram_$n%02d" ->
            (100L * topCover(n) > pct.toLong * total) } ++
        TextAnalysis.RepDupNgram.map { case (n, pct) =>
          f"reject_dup_ngram_$n%02d" ->
            (100L * dupCover(n) > pct.toLong * total) }
    }
    def expected(texts: Seq[String]): Map[String, Long] = {
      val ms = texts.map(model)
      val ruleNames = ms.head.keys.toSeq
      ruleNames.map(r => r -> ms.count(_(r)).toLong).toMap +
        ("pass_all" -> ms.count(m => !m.values.exists(identity)).toLong)
    }
    // fixture: clean long doc, repeated line, repeated paragraph,
    // repeated 5-gram span, dominant bigram
    val fixture = Seq(
      (1L, (1 to 40).map(i => f"alpha$i%02d").mkString(" ")),
      (2L, "hello world\nfoo bar\nhello world\nhello world"),
      (3L, "para one text here\n\npara two other\n\npara one text here"),
      (4L, ((1 to 12).map(i => f"filler$i%02d") ++
        Seq("one", "two", "three", "four", "five") ++
        (13 to 24).map(i => f"filler$i%02d") ++
        Seq("one", "two", "three", "four", "five")).mkString(" ")),
      (5L, Seq.fill(12)("ding dong").flatMap(_.split(" ")).mkString(" ")))
    val got = TextAnalysis
      .gopherRepetitionOf(fixture.toDF("doc_id", "text"))
      .as[(String, Long)].collect().toMap
    assert(got === expected(fixture.map(_._2)))
    // the planted line/para/ngram docs really reject (not vacuous)
    assert(got("reject_dup_line_frac") >= 1L)
    assert(got("reject_dup_para_frac") >= 1L)
    assert(got("reject_dup_ngram_05") >= 1L)
    assert(got("reject_top_ngram_02") >= 1L)
    assert(got("pass_all") >= 1L)
    // corpus tier: the gated query (doubling plant applied) equals the
    // model over the real sf0.001 documents — 500 docs through both
    val corpus = graft.sources.Tables
      .documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").as[(Long, String)].collect()
    val planted = corpus.map { case (id, t) =>
      if (id % 11 == 0) t + " " + t else t }
    val corpusGot = TextAnalysis
      .gopherRepetition(spark, "/root/testdata/sf0.001")
      .as[(String, Long)].collect().toMap
    assert(corpusGot === expected(planted.toSeq))
  }

  test("padding waste: bucket and total arithmetic are exact") {
    import graft.operators.TextAnalysis
    val got = TextAnalysis.paddingWaste(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Long, Long)].collect()
    val total = got.find(_._1 == "__total__").get
    val buckets = got.filterNot(_._1 == "__total__")
    // totals re-aggregate the buckets exactly
    assert(buckets.map(_._2).sum === total._2)
    assert(buckets.map(_._3).sum === total._3)
    assert(buckets.map(_._4).sum === total._4)
    // every bucket: padded = hi * n_docs, real <= padded, ratio is the
    // floor-division millionths of the same integers
    buckets.foreach { case (b, n, real, padded, waste) =>
      assert(padded === b.toLong * n)
      assert(real <= padded && real > 0)
      assert(waste === (padded - real) * 1000000L / padded)
    }
    // doc counts conserve to the corpus
    val nDocs = graft.sources.Tables
      .documents(spark, "/root/testdata/sf0.001").count()
    assert(total._2 === nDocs)
  }

  test("langId confusion matrix re-aggregates the per-doc predictions") {
    import graft.operators.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    val conf = TextAnalysis.langIdNbConfusion(spark, dir)
      .as[(String, String, Long)].collect()
    assert(conf.map(_._3).sum === 500L) // every doc lands in one cell
    // diagonal mass equals the accuracy gate's n_correct
    val nCorrect = TextAnalysis.langIdNbGate(spark, dir)
      .select("n_correct").as[Long].head()
    assert(conf.filter(c => c._1 == c._2).map(_._3).sum === nCorrect)
  }

  test("length outliers: every flagged doc violates the per-lang MAD bound") {
    import graft.operators.TextAnalysis
    import graft.sources.Tables
    val dir = "/root/testdata/sf0.001"
    val out = TextAnalysis.lengthOutliers(spark, dir)
      .as[(Long, String, Long, Long, Long, String)].collect()
    // every planted artifact is flagged with its regime's reason
    val byId = out.map(r => r._1 -> r._6).toMap
    (0L until 10L).foreach { i =>
      assert(byId.get(i + 40000L).contains("too_short"),
        s"truncation $i: ${byId.get(i + 40000L)}")
      assert(byId.get(i + 50000L).contains("too_long"),
        s"concatenation $i: ${byId.get(i + 50000L)}")
    }
    // independent per-lang median/MAD recompute in plain Scala over
    // the identical planted corpus
    val lens = TextAnalysis
      .withLengthArtifacts(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"),
        size(TextFunctions.tokenize(col("text"))).cast("long").as("n"))
      .as[(Long, String, Long)].collect()
    def med2(xs: Seq[Long]): Long = {
      val s = xs.sorted
      if (s.size % 2 == 1) 2 * s(s.size / 2)
      else s(s.size / 2 - 1) + s(s.size / 2)
    }
    val byLang = lens.groupBy(_._2).toSeq
    val expected = byLang.flatMap { case (lang, ds) =>
      val m2 = med2(ds.map(_._3).toSeq)
      val mad4 = med2(ds.map(d => math.abs(2 * d._3 - m2)).toSeq)
      ds.flatMap { d =>
        val reason =
          if (d._3 < 5) Some("too_short")
          else if (2 * (2 * d._3 - m2) > 3 * mad4) Some("too_long")
          else None
        reason.map(r => (d._1, lang, d._3, m2, mad4, r))
      }.toSeq
    }.toSet
    assert(out.toSet === expected)
  }

  test("small-cell release reconciles totals and never shows a cell < k") {
    import graft.operators.Curation
    val dir = "/root/testdata/sf0.001"
    val rows = Curation.smallCellRelease(spark, dir, k = 8L)
      .as[(String, String, Long, Long, Long)].collect()
    val (resid, kept) = rows.partition(_._1 == "__suppressed__")
    assert(resid.length === 1) // residual row always present
    assert(kept.nonEmpty && resid.head._5 > 0L,
      "both release branches should be exercised at this SF")
    assert(kept.forall(_._3 >= 8L), "published cell below k")
    assert(rows.map(_._3).sum === 500L) // doc mass reconciles
    // cell accounting: kept cells + suppressed cells = all cells
    val nCells = graft.sources.Tables.documents(spark, dir)
      .select("lang", "source").distinct().count()
    assert(kept.length + resid.head._5 === nCells)
  }

  test("dataset card: sections reconcile with the corpus") {
    import graft.operators.Profile
    val dir = "/root/testdata/sf0.001"
    val card = Profile.datasetCard(spark, dir)
      .as[(String, String, Long)].collect()
    val m = card.map(r => (r._1, r._2) -> r._3).toMap
    assert(m(("global", "n_docs")) === 500L)
    // per-lang docs and the quality histogram both partition the corpus
    assert(card.filter(r => r._1 == "lang" && r._2.startsWith("docs:"))
      .map(_._3).sum === 500L)
    assert(card.filter(_._1 == "quality").map(_._3).sum === 500L)
    // raw corpus has no exact dups (dedup fixtures plant their own)
    assert(m(("dup", "exact_dup_groups")) === 0L)
    assert(m(("dup", "exact_redundant_docs")) === 0L)
    // extremes bracket the doubled median
    assert(2 * m(("length", "min_toks")) <= m(("length", "med2_toks")))
    assert(m(("length", "med2_toks")) <= 2 * m(("length", "max_toks")))
    assert(m(("global", "vocab_size")) > 0L)
  }

  test("wordNgrams golden cases incl. short arrays") {
    assert(ngrams(Seq("a", "b", "c"), 2) === Seq("a b", "b c"))
    assert(ngrams(Seq("a", "b", "c"), 3) === Seq("a b c"))
    assert(ngrams(Seq("a"), 2) === Seq())
    assert(ngrams(Seq(), 2) === Seq())
  }

  test("native wordNgrams equals the composed HOF form on real docs") {
    import graft.sources.Tables
    // the pre-native formulation, kept here as the semantic reference
    def composed(tokens: org.apache.spark.sql.Column, n: Int) =
      when(size(tokens) < n, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(1), size(tokens) - lit(n - 1)),
          i => concat_ws(" ", slice(tokens, i, lit(n)))))
    val toks = TextFunctions.tokenize(col("text"))
    for (n <- Seq(2, 3)) {
      val diff = Tables.documents(spark, "/root/testdata/sf0.001")
        .select(TextFunctions.wordNgrams(toks, n).as("a"),
                composed(toks, n).as("b"))
        .filter(not(col("a") === col("b")))
        .count()
      assert(diff === 0, s"n=$n")
    }
  }

  test("charShingles golden cases") {
    val sh = Seq("abcd").toDF("text")
      .select(TextFunctions.charShingles(col("text"), 3).as("s"))
      .collect()(0).getSeq[String](0)
    assert(sh === Seq("abc", "bcd"))
    val short = Seq("ab").toDF("text")
      .select(TextFunctions.charShingles(col("text"), 3).as("s"))
      .collect()(0).getSeq[String](0)
    assert(short === Seq("ab"))
  }

  test("rolling fingerprint is deterministic and order-sensitive") {
    import graft.operators.TextAnalysis
    val df = Seq((1L, "a b c", "en", "s", 5L), (2L, "c b a", "en", "s", 5L),
                 (3L, "a b c", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val fp = TextAnalysis.fingerprintRolling(spark, tmp)
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) === fp(3L)) // same content → same fingerprint
    assert(fp(1L) !== fp(2L)) // reordered tokens → different fingerprint
  }

  test("BPE-ish pre-tokenizer counts golden cases") {
    import graft.operators.TextAnalysis
    // "it's 42 ok!" → ["it", "'s", " 42", " ok", "!"] = 5 bpe tokens;
    // whitespace+punct-strip tokens = ["its", "42", "ok"] = 3
    val df = Seq((1L, "it's 42 ok!", "en", "s", 11L),
                 (2L, "hello world", "en", "s", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextAnalysis.bpeTokenStats(spark, tmp)
      .select("doc_id", "n_bpe_tokens", "n_ws_tokens")
      .as[(Long, Int, Int)].collect()
      .map { case (k, a, b) => k -> ((a, b)) }.toMap
    assert(got(1L) === ((5, 3)))
    assert(got(2L) === ((2, 2)))
  }

  test("langId charset heuristic") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "the quick brown fox", "en", "s", 10L),
      (2L, "中文文本 test", "zh", "s", 10L),
      (3L, "señor año español", "es", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextAnalysis.langId(spark, tmp)
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "en", 2L -> "zh", 3L -> "es"))
  }

  test("pii scrub counts and redacts exactly the planted emails/urls") {
    import graft.operators.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    val rows = TextAnalysis.piiScrub(spark, dir)
      .select("doc_id", "n_emails", "n_urls")
      .as[(Long, Int, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, e, u) =>
      if (id % 5 == 0) assert(e == 1 && u == 1, s"doc $id: $e emails $u urls")
      else assert(e == 0 && u == 0, s"doc $id: $e emails $u urls")
    }
    // the redaction itself: placeholders in, raw PII out
    val sc = TextAnalysis.withSyntheticPii(
        graft.sources.Tables.documents(spark, dir))
      .filter(col("doc_id") % 5 === 0)
      .select(regexp_replace(
        regexp_replace(col("text"), lit(TextAnalysis.UrlRe), lit("<URL>")),
        lit(TextAnalysis.EmailRe), lit("<EMAIL>")).as("sc"))
      .limit(1).as[String].collect().head
    assert(sc.contains("<EMAIL>") && sc.contains("<URL>"))
    assert(!sc.contains("@example.com") && !sc.contains("https://"))
  }

  test("curation pipeline: gate holds, dedup unique, sample deterministic") {
    import graft.operators.Curation
    val dir = "/root/testdata/sf0.001"
    val out = Curation.curationPipeline(spark, dir)
    val rows = out.select("doc_id", "quality_score", "scrubbed_fp")
      .as[(Long, Double, String)].collect()
    assert(rows.nonEmpty)
    // every survivor passed the quality gate and the sample predicate
    rows.foreach { case (id, qs, _) =>
      assert(qs >= 0.3, s"doc $id under gate: $qs")
      assert(((id % (1L << 31)) * 2654435761L) % 100 < 50, s"doc $id bucket")
    }
    // exact dedup kept at most one doc per scrubbed fingerprint
    val fps = rows.map(_._3)
    assert(fps.distinct.length === fps.length)
    // layout-independent: a re-run selects the identical corpus
    assert(out.collect().toSeq ===
      Curation.curationPipeline(spark, dir).collect().toSeq)
  }

  test("fingerprint gate: deterministic, collision-free, order-sensitive") {
    import graft.operators.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    val (nDocs, nKeys, functionalOk, injectiveOk) =
      TextAnalysis.fingerprintGate(spark, dir)
        .as[(Long, Long, Int, Int)].collect().head
    assert(nDocs === 520) // 500 docs + 20 reversed plants
    assert(functionalOk === 1, "fp not a function of the token sequence")
    // injectivity over the reversed plants is the order-sensitivity
    // proof: an order-blind hash collides each plant with its original
    assert(injectiveOk === 1, "fp collision (or order-insensitive hash)")
    assert(nKeys >= 500)
  }

  test("contamination check finds every planted benchmark snippet") {
    import graft.operators.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    val rows = TextAnalysis.contaminationCheck(spark, dir)
      .as[(Long, Long, Long)].collect()
    val byDoc = rows.map(r => r._1 -> r).toMap
    // all 20 planted docs detected, each sharing >= 1 8-gram with >= 1
    // benchmark doc (natural overlaps may add docs/hits, never remove)
    (50L to 69L).foreach { id =>
      val r = byDoc.get(id)
      assert(r.nonEmpty, s"planted doc $id not flagged")
      assert(r.get._2 >= 1 && r.get._3 >= 1, s"doc $id counts: $r")
    }
  }

  test("doc repetition: doubled docs repeat, ratio bounded in [0,1)") {
    import graft.operators.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    val rows = TextAnalysis.docRepetition(spark, dir)
      .as[(Long, Int, Int, Double)].collect()
    assert(rows.length === 500)
    rows.foreach { case (id, n, d, ratio) =>
      assert(ratio >= 0.0 && ratio < 1.0, s"doc $id ratio $ratio")
      if (id % 11 == 0 && n >= 6)
        // text doubled => every 3-gram in the first copy recurs in the
        // second (plus the seam grams), so under half are distinct
        assert(ratio > 0.4, s"doubled doc $id ratio only $ratio")
    }
  }

  test("sequence packing: windows cover all tokens, ids contiguous per shard") {
    import graft.operators.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    val rows = TextAnalysis.sequencePacking(spark, dir, windowTokens = 512)
      .as[(String, Long, Long, Long, Long)].collect()
    val totalTokens = rows.map(_._4).sum
    val directTokens = graft.sources.Tables.documents(spark, dir)
      .select(size(graft.functions.TextFunctions.tokenize(col("text")))
        .as("n")).agg(sum("n")).as[Long].collect().head
    assert(totalTokens === directTokens) // every token lands in a window
    val docCounts = graft.sources.Tables.documents(spark, dir)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    rows.groupBy(_._1).foreach { case (lang, ws) =>
      assert(ws.map(_._2).min === 0L, lang) // packing starts at window 0
      // every doc of the shard is assigned to exactly one window
      assert(ws.map(_._3).sum === docCounts(lang), lang)
      // occupancy per window is positive and ids are unique
      assert(ws.map(_._2).distinct.length === ws.length, lang)
      ws.foreach { case (_, _, nDocs, nToks, _) =>
        assert(nDocs >= 1 && nToks >= 1)
      }
    }
  }

  test("bpe training reproduces the textbook merge sequence and stops dry") {
    import graft.operators.TextAnalysis
    // words: aaab×2, aab×1 → pair counts (a,a)=5, (a,b)=3
    // step0 (a,a,5) → aaab=[aa,a,b], aab=[aa,b]
    // step1: (aa,a)=2 ties (a,b)=2 → lex: (a,b) wins → aaab=[aa,ab]
    // step2: (aa,ab)=2 → aaab=[aaab]
    // step3: (aa,b)=1 → aab=[aab]; nothing left → early stop
    val df = Seq((1L, "aaab aaab aab", "en", "s", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextAnalysis.bpeTrainMerges(spark, tmp, nMerges = 10)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got === Seq((0, "a", "a", 5L), (1, "a", "b", 2L),
      (2, "aa", "ab", 2L), (3, "aa", "b", 1L)))
  }

  test("lm typicality: hand-computed count sums, rare continuations lower") {
    import graft.operators.TextAnalysis
    // corpus bigrams: "x y":2, "y x":1, "x z":1; prefix x:3, y:1
    val df = Seq((1L, "x y x y", "en", "s", 7L), (2L, "x z", "en", "s", 3L),
                 (3L, "solo", "en", "s", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextAnalysis.lmTypicality(spark, tmp)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // doc 1: (2+1+2)/(3+1+3); doc 2: 1/3 — rarer continuation scores lower
    assert(got(1L) === ((3L, 5L, 7L, 5.0 / 7.0)))
    assert(got(2L) === ((1L, 1L, 3L, 1.0 / 3.0)))
    assert(!got.contains(3L)) // single-token doc has no bigrams
    assert(got(2L)._4 < got(1L)._4)
  }

  test("bloom-tier contamination equals the exact one-tier answer") {
    import graft.operators.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    // both sides collect partition-order-dependent; compare as sorted
    // multisets (same fix as 4fca536 applied to the streaming specs)
    val exact = TextAnalysis.contaminationCheck(spark, dir)
      .collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("|"))
    val bloom = TextAnalysis.contaminationCheckBloom(spark, dir)
      .collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("|"))
    assert(exact.nonEmpty) // the planted snippets must be found at all
    assert(bloom === exact)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("boilerplate scrub drops exactly the high-frequency lines") {
    import graft.operators.TextAnalysis
    // 30 docs with unique bodies; the plant adds the shared header to
    // doc_id % 3 == 0 (10 docs ≥ minDocs) and the shared footer to
    // % 3 ∈ {0,1} (20 docs) — both must vanish, every body must survive
    val df = (0L until 30L).map(i => (i, s"unique body $i", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextAnalysis.boilerplateScrub(spark, tmp, minDocs = 10)
      .as[(Long, Long, Long, String)].collect()
    assert(got.length === 30)
    got.foreach { case (id, nLines, nKept, fp) =>
      val expLines = if (id % 3 == 0) 3L else if (id % 3 == 1) 2L else 1L
      assert(nLines === expLines, s"doc $id")
      assert(nKept === 1L, s"doc $id kept $nKept lines")
      assert(fp === md5Hex(s"unique body $id"), s"doc $id")
    }
  }

  test("boilerplate scrub keeps sub-threshold shared lines") {
    import graft.operators.TextAnalysis
    // only 9 docs are % 3 == 0 among 27 → header df = 9 < minDocs = 10
    // with 27 docs % 3 ∈ {0,1} giving footer df = 18 ≥ 10: the footer
    // drops, the header SURVIVES — the threshold is doc frequency, not
    // "looks like boilerplate"
    val df = (0L until 27L).map(i => (i, s"body $i", "en", "s", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextAnalysis.boilerplateScrub(spark, tmp, minDocs = 10)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(0L)._3 === 2L) // header + body survive, footer dropped
    assert(got(0L)._4 === md5Hex("subscribe to our newsletter\nbody 0"))
    assert(got(1L)._3 === 1L) // footer-only plant → body alone
    assert(got(2L)._3 === 1L) // unplanted
  }

  test("document chunking covers every token with the declared overlap") {
    import graft.operators.TextAnalysis
    val toks100 = (1 to 100).map(i => s"t$i")
    val df = Seq((1L, toks100.mkString(" "), "en", "s", 10L),
                 (2L, "a b c", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextAnalysis.chunkDocuments(spark, tmp, 64, 48)
      .as[(Long, Long, Int, String)].collect()
    val d1 = got.filter(_._1 == 1L).sortBy(_._2)
    // starts 1, 49, 97 → sizes 64, 52, 4; consecutive chunks overlap 16
    assert(d1.map(c => (c._2, c._3)).toSeq === Seq((0L, 64), (1L, 52), (2L, 4)))
    assert(d1(0)._4 === md5Hex(toks100.slice(0, 64).mkString(" ")))
    assert(d1(1)._4 === md5Hex(toks100.slice(48, 100).mkString(" ")))
    assert(d1(2)._4 === md5Hex(toks100.slice(96, 100).mkString(" ")))
    // short doc → one chunk, verbatim
    val d2 = got.filter(_._1 == 2L)
    assert(d2.toSeq === Seq((2L, 0L, 3, md5Hex("a b c"))))
  }

  test("top domains counts the 7 planted hosts and nothing else") {
    import graft.operators.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    val rows = TextAnalysis.topDomains(spark, dir)
      .as[(String, Long)].collect()
    val planted = rows.filter(_._1.matches("d[0-6]\\.example\\.com"))
    assert(planted.length === 7)
    // 125 docs are multiples of 4 in 0..499, one planted URL each
    assert(planted.map(_._2).sum === 125)
    assert(rows.map(_._2).sum === 125, s"unexpected natural URLs: $rows")
  }

  test("ffdPack: hand-traced first-fit-decreasing placement") {
    import graft.operators.TextAnalysis
    def doc(id: Long, n: Int, lang: String = "en") =
      (id, Seq.fill(n)("w").mkString(" "), lang, "s", n.toLong)
    val docs = Seq(doc(1, 5), doc(2, 4), doc(3, 3), doc(4, 3),
      doc(5, 2), doc(6, 2), doc(7, 1))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextAnalysis.ffdPack(docs, capacity = 8)
      .select("doc_id", "bin_id").as[(Long, Long)].collect().toMap
    // FFD on sizes 5,4,3,3,2,2,1 with C=8: bins {5,3} {4,3,1} {2,2}
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 1L,
      5L -> 2L, 6L -> 2L, 7L -> 1L))

    // oversize docs get dedicated bins that accept nothing else
    val big = Seq(doc(8, 10), doc(1, 5), doc(2, 4))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val gotBig = TextAnalysis.ffdPack(big, capacity = 8)
      .select("doc_id", "bin_id").as[(Long, Long)].collect().toMap
    assert(gotBig === Map(8L -> 0L, 1L -> 1L, 2L -> 2L))

    // shard isolation: same sizes in two langs pack independently
    val sharded = Seq(doc(1, 5), doc(2, 4), doc(11, 5, "es"),
      doc(12, 4, "es")).toDF("doc_id", "text", "lang", "source", "n_chars")
    val gotSh = TextAnalysis.ffdPack(sharded, capacity = 8)
      .select("shard", "doc_id", "bin_id").as[(String, Long, Long)]
      .collect().toSet
    assert(gotSh === Set(("en", 1L, 0L), ("en", 2L, 1L),
      ("es", 11L, 0L), ("es", 12L, 1L)))

    // deterministic under any input layout
    val a = TextAnalysis.ffdPack(docs.repartition(7), 8)
      .collect().map(_.toString).toSet
    val b = TextAnalysis.ffdPack(docs.repartition(1), 8)
      .collect().map(_.toString).toSet
    assert(a === b)
  }

  test("ffdPackGate invariants hold on the real corpus") {
    import graft.operators.TextAnalysis
    val rows = TextAnalysis.ffdPackGate(spark, "/root/testdata/sf0.001",
      capacity = 64).as[(String, Long, Long, Int, Int, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (sh, n, tot, occ, lb, he) =>
      assert(n > 0 && tot > 0, sh)
      assert(occ === 1 && lb === 1 && he === 1, sh)
    }
    // bins are populated and every in-capacity bin respects the cap
    val bins = TextAnalysis.ffdPackStats(spark, "/root/testdata/sf0.001",
      capacity = 64).as[(String, Long, Long, Long)].collect()
    assert(bins.nonEmpty)
    assert(bins.forall(_._3 >= 1))
  }

  test("bpeEncode: round-trip + bounds hold; merges shrink the corpus") {
    import graft.operators.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    val gate = TextAnalysis.bpeEncodeGate(spark, dir)
      .as[(Long, Long, Long, Int, Int)].collect()
    assert(gate.length === 500)
    assert(gate.forall(r => r._4 === 1 && r._5 === 1))
    val stats = TextAnalysis.bpeEncodeStats(spark, dir)
      .as[(Long, Long, Long, Long, Double)].collect()
    stats.foreach { case (id, nWords, nSyms, nChars, spw) =>
      assert(nWords <= nSyms && nSyms <= nChars, s"doc $id")
      assert(spw >= 1.0, s"doc $id")
    }
    // 20 merges must actually compress: total symbols < total chars
    assert(stats.map(_._3).sum < stats.map(_._4).sum)
  }

  test("canonicalizeUrl: scheme/host case, www, ports, utm, fragments") {
    import graft.operators.TextAnalysis
    val urls = Seq(
      "HTTPS://WWW.Site.COM:443/p/1?utm_source=x&ref=a#frag",
      "https://site.com/p/1?ref=a",
      "http://site.com:80/p/1",
      "http://site.com:8080/p/1",          // non-default port survives
      "https://site.com/P/1",              // path case preserved
      "https://site.com/p/1?utm_a=1&utm_b=2", // all params tracking
      "https://site.com/p/1?b=2&a=1")      // param order preserved
      .toDF("url")
    val got = urls
      .select(TextAnalysis.canonicalizeUrl(col("url"))).as[String]
      .collect().toSeq
    assert(got === Seq(
      "https://site.com/p/1?ref=a",
      "https://site.com/p/1?ref=a",
      "http://site.com/p/1",
      "http://site.com:8080/p/1",
      "https://site.com/P/1",
      "https://site.com/p/1",
      "https://site.com/p/1?b=2&a=1"))
  }

  test("urlCanonical collapses the three planted spellings") {
    import graft.operators.TextAnalysis
    val rows = TextAnalysis.urlCanonical(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    // every canonical URL is fully lowered scheme+host, no tracking
    rows.foreach { case (u, n, v) =>
      assert(u.startsWith("https://d"), u)
      assert(!u.contains("utm_") && !u.contains("#") && !u.contains("www."), u)
      assert(n >= v && v >= 1, s"$u: $n/$v")
    }
    // doc_id % 4 == 0 plants cycle through % 3 forms: some canonical
    // URL collects at least two distinct raw spellings
    assert(rows.exists(_._3 >= 2), rows.take(5).mkString(","))
  }

  test("denseIdsByCount equals a global row_number, any partitioning") {
    import graft.operators.TextAnalysis
    // 40 words, counts 40..1 → id i for the word with count 40-i
    val counts = (0 until 40)
      .map(i => (f"w$i%02d", (40 - i).toLong))
      .toDF("word", "cnt")
    val expected = (0 until 40).map(i => f"w$i%02d" -> i.toLong).toMap
    for (reshaped <- Seq(counts.repartition(1), counts.repartition(13),
        counts.orderBy(desc("word")))) {
      val ids = TextAnalysis.denseIdsByCount(reshaped, "word")
        .select("word", "id").as[(String, Long)].collect().toMap
      assert(ids === expected)
    }
    // count ties broken by key: ids still dense and deterministic
    val tied = Seq(("b", 5L), ("a", 5L), ("c", 5L)).toDF("word", "cnt")
    val got = TextAnalysis.denseIdsByCount(tied, "word")
      .select("word", "id").as[(String, Long)].collect().toMap
    assert(got === Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
  }

  test("dictEncodeStats: id 0 is the corpus mode; stats are consistent") {
    import graft.operators.TextAnalysis
    val rows = TextAnalysis.dictEncodeStats(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.length === 500)
    rows.foreach { case (id, nToks, idSum, idMin, idMax, nDistinct) =>
      assert(nToks >= nDistinct, s"doc $id")
      assert(idMin <= idMax && idSum >= idMax, s"doc $id")
    }
    // at least one document contains the globally most frequent token
    assert(rows.exists(_._4 === 0L))
  }

  test("trained NB language ID: perfect on the marker-planted corpus") {
    import graft.operators.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    val rows = TextAnalysis.langIdNb(spark, dir)
      .as[(Long, String, String, Long)].collect()
    assert(rows.length === 500)
    // 6-vs-1 marker frequency dominates the flat base-token noise, so
    // classify-on-train accuracy should be exact, not just >= the gate
    // floor — a drop below 1.0 means the model or plant regressed
    assert(rows.forall(r => r._2 === r._3))
    // every language is actually predicted (no prior-argmax collapse)
    assert(rows.map(_._3).distinct.sorted === Seq("de", "en", "es", "fr", "zh"))
  }

  test("NB gate emits exact counts and a green accuracy flag") {
    import graft.operators.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    val (nDocs, nCorrect, accOk) = TextAnalysis.langIdNbGate(spark, dir)
      .as[(Long, Long, Int)].head()
    assert(nDocs === 500 && nCorrect === 500 && accOk === 1)
  }

  test("unigram trainer: gate green, inventory sound, Viterbi exact on a known word") {
    import graft.operators.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    val gate = TextAnalysis.unigramGate(spark, dir)
      .as[(Long, Int, Int, Int, Int)].collect()
    assert(gate.length === 1)
    val (nChars, charsOk, covOk, monoOk, vocabOk) = gate(0)
    assert(nChars > 0)
    assert(charsOk === 1, "trained inventory lost a corpus character")
    assert(covOk === 1, "a vocab word failed to segment")
    assert(monoOk === 1, "within-round EM cost rose beyond flooring slack")
    assert(vocabOk === 1, "final inventory exceeds the size target")
    val pieces = TextAnalysis.unigramTrainPieces(spark, dir)
      .as[(String, Long, Long)].collect()
    assert(pieces.nonEmpty)
    // inventory bounds: piece lengths (in characters, as Spark counts
    // them: code points) within the window, target honored
    def chars(p: String) = p.codePointCount(0, p.length)
    assert(pieces.forall(p => chars(p._1) <= TextAnalysis.UnigramMaxPieceLen))
    val nCharPieces = pieces.count(p => chars(p._1) == 1)
    assert(pieces.length <=
      math.max(TextAnalysis.UnigramVocabTarget, nCharPieces))
    // every kept piece carries the add-1 cost of its own count under
    // the final totals — the (count → cost) contract is re-derivable
    val total = pieces.map(_._2).sum
    pieces.foreach { case (p, c, cost) =>
      val want = math.floor((math.log((total + pieces.length).toDouble) -
        math.log((c + 1).toDouble)) * 1e6).toLong
      assert(cost === want, s"cost mismatch for piece '$p'")
    }
  }

  test("unigram trainer keeps a supplementary-plane character through pruning") {
    import graft.operators.TextAnalysis
    // U+1F600 is ONE character to Spark (and to the seeder) but two
    // UTF-16 units to Java's String.length; a pruner or gate counting
    // the latter treats it as a prunable multi-char piece. It appears
    // only inside longer words, so its own usage is low and an
    // over-eager pruner would drop it — breaking coverage.
    val text = Seq.fill(3)("abcd bcda cdab dabc").mkString(" ") +
      " ab😀cd"
    val tmp = java.nio.file.Files.createTempDirectory("graft-ug-smp").toString
    Seq((1L, text, "en", "t", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // a target below the alphabet: pruning runs to the character floor
    val (nChars, charsOk, covOk, monoOk, vocabOk) =
      TextAnalysis.unigramGate(spark, tmp, vocabTarget = 3)
        .as[(Long, Int, Int, Int, Int)].head()
    assert(nChars === 5L)
    assert((charsOk, covOk, monoOk, vocabOk) === ((1, 1, 1, 1)))
    val pieces = TextAnalysis.unigramTrainPieces(spark, tmp, vocabTarget = 3)
      .as[(String, Long, Long)].collect().map(_._1)
    assert(pieces.sorted === Array("a", "b", "c", "d", "😀"))
  }

  test("winnowing: coverage and guaranteed detection of 7-token overlap") {
    import graft.operators.TextAnalysis
    // two docs that share ONLY a (w+k-1)=7-token run, deliberately at
    // different absolute positions, amid otherwise disjoint vocab
    val shared = (1 to 7).map(i => s"s$i").mkString(" ")
    val docA = (1 to 40).map(i => s"a$i").mkString(" ") + " " + shared +
      " " + (41 to 60).map(i => s"a$i").mkString(" ")
    val docB = (1 to 11).map(i => s"b$i").mkString(" ") + " " + shared +
      " " + (12 to 70).map(i => s"b$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft-win").toString
    Seq((1L, docA, "en", "t", docA.length.toLong),
        (2L, docB, "en", "t", docB.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val fps = TextAnalysis.winnowFingerprints(spark, tmp)
      .select("doc_id", "pos", "gram_hash").as[(Long, Long, Long)]
      .collect()
    // the winnowing theorem: any shared run of w+k-1 tokens yields at
    // least one shared selected gram hash, regardless of alignment
    val hashesA = fps.filter(_._1 == 1L).map(_._3).toSet
    val hashesB = fps.filter(_._1 == 2L).map(_._3).toSet
    assert((hashesA intersect hashesB).nonEmpty,
      "aligned 7-token overlap produced no shared fingerprint")
    // coverage: every full window of W grams contains a selection
    val nGramsA = 68 - TextAnalysis.WinnowK + 1 // doc A has 68 tokens
    val posA = fps.filter(_._1 == 1L).map(_._2).toSet
    for (i <- 1 to nGramsA - TextAnalysis.WinnowW + 1)
      assert((i until i + TextAnalysis.WinnowW).exists(j => posA(j.toLong)),
        s"window starting at gram $i has no selected fingerprint")
  }

  test("CDC chunks: identities survive a prefix edit (the CDC property)") {
    import graft.operators.TextAnalysis
    // deterministic 400-token doc and the same doc with a 7-token
    // prefix inserted — the edit a fixed-stride chunker cannot absorb
    val base = (1 to 400).map(i => s"w${i * 37 % 211}").mkString(" ")
    val edited = (1 to 7).map(i => s"p$i").mkString(" ") + " " + base
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    Seq((1L, base, "en", "t", base.length.toLong),
        (2L, edited, "en", "t", edited.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val chunks = TextAnalysis.cdcChunks(spark, tmp)
      .select("doc_id", "chunk_fp").as[(Long, String)].collect()
    val origFps = chunks.filter(_._1 == 1L).map(_._2)
    val editFps = chunks.filter(_._1 == 2L).map(_._2).toSet
    // the doc splits into many chunks at this boundary rate...
    assert(origFps.length > 10, s"only ${origFps.length} chunks")
    // ...and ALL of them except the one containing the edit keep their
    // exact fingerprint — boundaries resynchronize at the first
    // boundary token, which is what makes chunk-level dedup survive
    // upstream edits
    assert(origFps.count(!editFps.contains(_)) <= 1,
      s"${origFps.count(!editFps.contains(_))} of ${origFps.length} " +
        "chunk identities lost after a prefix edit")
  }
}
