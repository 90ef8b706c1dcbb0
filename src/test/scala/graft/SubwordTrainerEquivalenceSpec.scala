package graft

import graft.functions.TextFunctions._
import graft.operators.{Checkpoints, TextAnalysis, WordCount}
import graft.operators.TextAnalysis.{UnigramEmPerRound, UnigramMaxPieceLen,
  UnigramPruneFrac, UnigramSeedCap}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver-side tokenizer trainers (`TextAnalysis.trainBpe`,
  * `trainUnigram`) and the unigram encoder against the Spark
  * implementations they replaced, copied verbatim below (resume store
  * dropped): every BPE merge (step, a, b, pair_count), every unigram
  * piece (piece, cnt, cost_micros), the per-round stats, the coverage
  * flag and every encoded (doc_id, word, pieces) row must be equal. The
  * corpora are sf0.001 and sf0.01 plus the shapes where a tie-break or a
  * character count decides: an empty corpus, one word, a one-char
  * word, all one-char words, the textbook `aaab aaab aab` tie,
  * `aaaa` (a pair repeating inside one word), é/ß/CJK words, and a
  * vocabulary whose multi-char seeds tie across the
  * [[TextAnalysis.UnigramSeedCap]] boundary with characters whose
  * UTF-8 (Spark) and UTF-16 (Java) orders disagree. */
class SubwordTrainerEquivalenceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The Spark trainers and encoder as they stood before the driver
    * kernels. */
  private object Reference {
    private def toks = tokenize(col("text"))
    private val UnigramInf = 1000000000000000L // 1e15

    def trainBpe(s: SparkSession, dir: String,
                 nMerges: Int): Seq[(Int, String, String, Long)] = {
      import s.implicits._
      val words = WordCount.tokens(Tables.documents(s, dir), "text")
        .select(lower(col("word")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
      // explicit per-char split (split(word, "") has trailing-empty
      // surprises under Java's limit=-1 semantics)
      var vocab = words.select(
        transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))).as("syms"),
        col("cnt"))
      val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
      var step = 0
      var exhausted = false
      while (step < nMerges && !exhausted) {
        val top = vocab.filter(size(col("syms")) >= 2)
          .select(explode(transform(
            sequence(lit(1), size(col("syms")) - 1),
            i => struct(element_at(col("syms"), i).as("a"),
              element_at(col("syms"), i + 1).as("b")))).as("p"),
            col("cnt"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("cnt")).as("pc"))
          .orderBy(desc("pc"), asc("a"), asc("b"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (a, b, pc) = (top(0).getString(0), top(0).getString(1),
            top(0).getLong(2))
          merges += ((step, a, b, pc))
          val merged = Checkpoints.materialize(vocab.select(
            graft.functions.BpeMergeExpression
              .bpe_merge_pair(col("syms"), a, b).as("syms"),
            col("cnt")))
          // the merge step is materialized; last step's round is consumed
          Checkpoints.dropRound(vocab)
          vocab = merged
          step += 1
        }
      }
      // the merge table is driver-side; no one reads the final vocab round
      Checkpoints.dropRound(vocab)
      merges.toSeq
    }

    def unigramSegExpr(word: org.apache.spark.sql.Column,
                       costMap: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column = {
      val L = UnigramMaxPieceLen
      val inf = lit(UnigramInf)
      letCol(length(word)) { n =>
        letCol(aggregate(
          sequence(lit(2), n + 1),
          array(struct(lit(0L).as("c"), lit(0).as("bp"))),
          (acc, i) => concat(acc, array(
            letCol(filter(
              transform(sequence(greatest(lit(1), i - L), i - 1), j =>
                struct(
                  (element_at(acc, j).getField("c") +
                    coalesce(try_element_at(costMap, word.substr(j, i - j)),
                      inf)).as("c"),
                  j.as("bp"))),
              s => s.getField("c") < inf)) { cands =>
              when(size(cands) > 0, array_min(cands))
                .otherwise(struct(inf.as("c"), lit(0).as("bp")))
            })))) { best =>
          letCol(aggregate(
            sequence(lit(1), n),
            struct((n + 1).as("pos"), typedlit(Seq.empty[String]).as("ps")),
            (acc, _) => when(acc.getField("pos") > 1,
              letCol(element_at(best, acc.getField("pos"))) { node =>
                struct(node.getField("bp").as("pos"),
                  concat(acc.getField("ps"), array(word.substr(
                    node.getField("bp"),
                    acc.getField("pos") - node.getField("bp")))).as("ps"))
              }).otherwise(acc))) { walked =>
            struct(
              element_at(best, n + 1).getField("c").as("cost"),
              when(walked.getField("pos") === 1,
                reverse(walked.getField("ps")))
                .otherwise(typedlit(Seq.empty[String])).as("pieces"))
          }
        }
      }
    }

    def unigramCosts(counts: Seq[(String, Long)]): Map[String, Long] = {
      val total = counts.map(_._2).sum
      val v = counts.size.toLong
      counts.map { case (p, c) =>
        p -> math.floor((math.log((total + v).toDouble) -
          math.log((c + 1).toDouble)) * 1e6).toLong
      }.toMap
    }

    def trainUnigram(s: SparkSession, dir: String,
                     vocabTarget: Int)
        : (Seq[(String, Long, Long)], Seq[(Int, Int, Int)], Int) = {
      import s.implicits._
      val L = UnigramMaxPieceLen
      val words = Checkpoints.scratch(
        WordCount.tokens(Tables.documents(s, dir), "text")
          .select(lower(col("word")).as("word"))
          .groupBy("word").agg(count(lit(1)).as("cnt")))
      // substring seed: every ≤L-gram of every vocab word, weighted
      val subs = words.select(col("cnt"), explode(flatten(
          transform(sequence(lit(1), length(col("word"))), i =>
            transform(sequence(lit(1),
                least(lit(L), length(col("word")) - i + 1)),
              l => col("word").substr(i, l))))).as("piece"))
        .groupBy("piece").agg(sum(col("cnt")).as("c"))
        .localCheckpoint(true)
      val chars = subs.filter(length(col("piece")) === 1)
        .as[(String, Long)].collect().toSeq.sortBy(_._1)
      val multis = subs.filter(length(col("piece")) > 1)
        .orderBy(desc("c"), asc("piece")).limit(UnigramSeedCap)
        .as[(String, Long)].collect().toSeq
      var pieces: Seq[(String, Long)] = chars ++ multis
      var round = 0
      val target = math.max(vocabTarget, chars.size)
      val stats = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]()
      var coverage = 1
      var done = pieces.isEmpty
      if (done) stats += ((0, 0, 1))
      while (!done) {
        var costs = unigramCosts(pieces)
        var lastCounts = pieces
        var prevStepCost = Long.MaxValue
        var slack = 0L
        var improved = 1
        for (_ <- 1 to UnigramEmPerRound) {
          val seg = words.withColumn("seg",
            unigramSegExpr(col("word"), typedlit(costs)))
            .select(col("cnt"), col("seg.cost").as("cost"),
              col("seg.pieces").as("pieces"))
            .localCheckpoint(true)
          // the cost sum counts SEGMENTABLE words only: an unsegmentable
          // word carries the ~1e15 sentinel, and summing sentinels over a
          // vocabulary overflows int64 (coverage_ok already flags the
          // unsegmentable case — the cost total is only meaningful for
          // the covered corpus)
          val agg = seg.agg(
            coalesce(sum(when(size(col("pieces")) > 0,
              col("cost") * col("cnt")).otherwise(lit(0L))), lit(0L)),
            coalesce(sum(size(col("pieces")) * col("cnt")), lit(0L)),
            coalesce(min(when(size(col("pieces")) > 0, 1).otherwise(0)),
              lit(1))).head()
          val stepCost = agg.getLong(0)
          coverage = math.min(coverage, agg.getInt(2))
          if (stepCost > prevStepCost + slack) improved = 0
          prevStepCost = stepCost
          slack = agg.getLong(1) // 1 micro per emitted piece (flooring)
          val usedMap = seg
            .select(explode(col("pieces")).as("piece"), col("cnt"))
            .groupBy("piece").agg(sum(col("cnt")).as("c"))
            .as[(String, Long)].collect().toMap
          lastCounts = pieces.map { case (p, _) =>
            p -> usedMap.getOrElse(p, 0L) }
          costs = unigramCosts(lastCounts)
        }
        stats += ((round, pieces.size, improved))
        pieces = lastCounts
        val prunable = pieces.filter(_._1.length > 1)
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
      (pieces.map { case (p, c) => (p, c, finalCosts(p)) }.sortBy(_._1),
        stats.toSeq, coverage)
    }

    def unigramEncoded(s: SparkSession, dir: String,
                       pieces: Seq[(String, Long, Long)]): DataFrame = {
      val words = Tables.documents(s, dir)
        .select(col("doc_id"), explode(toks).as("w0"))
        .select(col("doc_id"), lower(col("w0")).as("word"))
      val vocabSeg = {
        val costs = pieces.map(p => p._1 -> p._3).toMap
        val vocab = words.select("word").distinct()
        Checkpoints.scratch(
          if (costs.isEmpty)
            vocab.withColumn("pieces", typedlit(Seq.empty[String]))
          else vocab
            .withColumn("seg", unigramSegExpr(col("word"), typedlit(costs)))
            .select(col("word"), col("seg.pieces").as("pieces")))
      }
      words.join(vocabSeg, Seq("word"))
        .select("doc_id", "word", "pieces")
    }
  }

  /** One document per text, in a fresh directory (the trainers' memo
    * caches are keyed by directory; the trainers are called directly
    * anyway). */
  private def corpus(texts: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-subword").toString
    texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "en", "t", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def encodedRows(df: DataFrame): Seq[(Long, String, Seq[String])] =
    df.as[(Long, String, Seq[String])].collect().toSeq.sortBy(r => (r._1, r._2))

  /** Both trainers and the encoder, reference against kernel. */
  private def assertSame(dir: String, nMerges: Int, vocabTarget: Int): Unit = {
    assert(TextAnalysis.trainBpe(spark, dir, nMerges) ===
      Reference.trainBpe(spark, dir, nMerges), "BPE merges")
    val model = TextAnalysis.trainUnigram(spark, dir, vocabTarget)
    val (pieces, stats, coverage) =
      Reference.trainUnigram(spark, dir, vocabTarget)
    assert(model.pieces === pieces, "unigram pieces")
    assert(model.stats === stats, "unigram round stats")
    assert(model.coverage === coverage, "unigram coverage")
    assert(encodedRows(TextAnalysis.unigramEncoded(spark, dir, vocabTarget)) ===
      encodedRows(Reference.unigramEncoded(spark, dir, pieces)),
      "unigram encode rows")
  }

  test("sf0.001 and sf0.01: merges, pieces, stats, coverage and encode rows") {
    for (sf <- Seq("sf0.001", "sf0.01"))
      assertSame(s"/root/testdata/$sf", 20, TextAnalysis.UnigramVocabTarget)
  }

  test("degenerate vocabularies: empty, one word, one char, all one-char") {
    val empty = {
      val dir = java.nio.file.Files.createTempDirectory("graft-subword").toString
      Seq.empty[(Long, String, String, String, Long)]
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      dir
    }
    assertSame(empty, 20, 200)
    assert(TextAnalysis.trainBpe(spark, empty, 20).isEmpty)
    for (texts <- Seq(Seq("hello"), Seq("x"), Seq("a b c a b", "c c"),
                      Seq("!!! ...")))
      for (target <- Seq(1, 200)) assertSame(corpus(texts), 20, target)
  }

  test("ties: the textbook aaab/aab case, a repeating pair, a tied prune") {
    for (texts <- Seq(Seq("aaab aaab aab"), Seq("aaaa"), Seq("aaaa aa a"),
                      Seq("abab baba abba baab", "ab ba")))
      for (target <- Seq(1, 4, 200)) assertSame(corpus(texts), 30, target)
  }

  test("é, ß and CJK words split and merge by character") {
    val texts = Seq("Café café CAFÉ straße STRASSE Straße",
      "東京 東京都 京都 都市 東京都市", "éé ßß éß ßé über Über")
    for (target <- Seq(1, 10, 200)) assertSame(corpus(texts), 40, target)
  }

  test("multi-char seeds tie across the seed cap, in Spark's string order") {
    // 6^4 distinct four-character words, each once: 36 bigrams and 216
    // trigrams outrank every 4-gram, so the cap cuts inside the 1296
    // count-1 4-grams and the (count desc, piece asc) order decides
    // which survive: the 216 starting with "a", then 132 more. Spark's
    // UTF-8 order puts U+FF10 before the four supplementary-plane
    // characters, Java's UTF-16 order puts it after them, so the two
    // orders pick different 4-grams (and break the BPE pair ties, all
    // 36 bigrams at 108, differently). The target keeps every seed, so
    // no prune runs.
    val alphabet = Seq("a", "\uFF10", "\uD83D\uDE00", "\uD83D\uDE42",
      "\uD83D\uDE80", "\uD83E\uDD16")
    val words = for (w <- alphabet; x <- alphabet; y <- alphabet; z <- alphabet)
      yield w + x + y + z
    assert(words.size - 36 - 216 > UnigramSeedCap)
    val dir = corpus(words.grouped(100).map(_.mkString(" ")).toSeq)
    assertSame(dir, 20, UnigramSeedCap + alphabet.size)
  }
}
