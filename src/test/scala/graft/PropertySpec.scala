package graft

import graft.operators.WordCount
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Test => SCTest}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck properties from SURVEY.md §5: Σcounts = #tokens, counts
  * invariant under input partitioning, case-insensitive counts are the
  * case-variant sums. The per-sample oracle is an independent pure-Scala
  * reimplementation of the reference tokenizer (client.py:16-21), so the
  * Column-expression pipeline is checked against a second implementation
  * on arbitrary inputs, not just curated fixtures. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Reference `clean_words`, independently in plain Scala. */
  private val punct = """!"#$%&'()*+,-./:;<=>?@[\]^_`{|}~""".toSet
  private def tok(text: String): Seq[String] =
    text.replace('\n', ' ').filterNot(punct).split(" +").toSeq
      .filter(_.exists(c => !c.isWhitespace))

  private val wordGen = Gen.oneOf(
    "Hello", "hello", "World", "world", "He's", "mid-word", "42nd",
    "x\ty", "", " ", "UPPER", "MiXeD")
  private val lineGen =
    Gen.listOf(wordGen).map(_.mkString(" "))
  private val textGen: Gen[List[String]] = Gen.listOf(lineGen)

  // fixed seed: the properties are true invariants, but the round gate
  // must not depend on the RNG of the day
  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(12).withWorkers(1)
    .withInitialSeed(org.scalacheck.rng.Seed(42L))

  private def check(name: String)(p: org.scalacheck.Prop): Unit = {
    val res = SCTest.check(params, p)
    assert(res.passed, s"$name: $res")
  }

  test("sum of word counts equals the independent tokenizer's count") {
    check("conservation")(forAll(textGen) { lines =>
      val df = (lines :+ "sentinel").toDF("text")
      val total = WordCount.wordCount(df, "text", caseSensitive = true)
        .agg(sum("cnt")).as[Long].collect()(0)
      total == (lines :+ "sentinel").map(tok(_).size).sum
    })
  }

  test("counts are invariant under input partitioning") {
    check("partition-invariance")(forAll(textGen) { lines =>
      val df = (lines :+ "sentinel").toDF("text")
      def counts(parts: Int) =
        WordCount.wordCount(df.repartition(parts), "text", caseSensitive = false)
          .as[(String, Long)].collect().toMap
      counts(1) == counts(7)
    })
  }

  test("case-insensitive counts are the case-variant sums") {
    check("case-fold")(forAll(textGen) { lines =>
      val df = (lines :+ "sentinel").toDF("text")
      val cs = WordCount.wordCount(df, "text", caseSensitive = true)
        .as[(String, Long)].collect()
      val ci = WordCount.wordCount(df, "text", caseSensitive = false)
        .as[(String, Long)].collect().toMap
      val folded = cs.groupBy(_._1.toLowerCase).view
        .mapValues(_.map(_._2).sum).toMap
      folded == ci
    })
  }

  test("round-6 per-doc operators are invariant under input partitioning") {
    // deterministic-by-content is the contract that keeps 100 TB results
    // reproducible across cluster sizes and file splits: re-partitioning
    // the SAME corpus must leave every result row identical
    import graft.operators.{Dedup, TextAnalysis}
    val base = (0L until 60L)
      .map(i => (i, s"alpha beta g$i delta " * 3, "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def results(parts: Int): Seq[Set[String]] = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-inv").toString
      base.repartition(parts).write.mode("overwrite")
        .parquet(s"$tmp/documents.parquet")
      Seq(
        TextAnalysis.boilerplateScrub(spark, tmp),
        TextAnalysis.chunkDocuments(spark, tmp),
        TextAnalysis.lmTypicality(spark, tmp),
        TextAnalysis.textNormalize(spark, tmp),
        Dedup.duplicateSpans(graft.sources.Tables.documents(spark, tmp), 20)
      ).map(_.collect().map(_.toString).toSet)
    }
    assert(results(1) === results(13))
  }

  test("scd2History matches a driver-side reference on random streams") {
    import graft.operators.Incremental
    val prioGen = Gen.oneOf("LOW", "MED", "HIGH")
    val orderGen = for {
      cust <- Gen.chooseNum(1L, 6L)
      day <- Gen.chooseNum(0, 60)
      prio <- prioGen
    } yield (cust, day, prio)
    check("scd2")(forAll(Gen.nonEmptyListOf(orderGen)) { raw =>
      // unique orderkeys; timestamps derived from the day offset
      val orders = raw.zipWithIndex.map { case ((c, d, p), i) =>
        (c, i.toLong, java.sql.Timestamp.valueOf(
          f"2024-01-01 00:00:00").toInstant
          .plusSeconds(d * 86400L), p)
      }
      val df = orders
        .map { case (c, k, t, p) => (c, k, java.sql.Timestamp.from(t), p) }
        .toDF("o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority")
      val got = Incremental.scd2History(df)
        .as[(Long, Long, String, String, String, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).toList).toMap
      // reference: per customer, order by (ts, key), run-length compress
      val want = orders.groupBy(_._1).map { case (c, os) =>
        val sorted = os.sortBy(o => (o._3, o._2))
        val runs = sorted.foldLeft(List.empty[(String, java.time.Instant, Long)]) {
          case (acc, (_, _, t, p)) => acc match {
            case (pp, vf, n) :: tail if pp == p => (pp, vf, n + 1) :: tail
            case _ => (p, t, 1L) :: acc
          }
        }.reverse
        c -> runs
      }
      got.keySet == want.keySet && want.forall { case (c, runs) =>
        val vs = got(c)
        vs.length == runs.length &&
          vs.zip(runs).zipWithIndex.forall {
            case (((_, ver, prio, vf, vt, n), (rp, rvf, rn)), idx) =>
              val fmt = java.time.format.DateTimeFormatter
                .ofPattern("yyyy-MM-dd HH:mm:ss")
                .withZone(java.time.ZoneOffset.UTC)
              ver == idx + 1 && prio == rp && n == rn &&
                vf == fmt.format(rvf) &&
                (if (idx == runs.length - 1) vt == "9999-12-31 00:00:00"
                 else vt == fmt.format(runs(idx + 1)._2))
          }
      }
    })
  }

  test("price histogram: partitioning-invariant, complete, ordered") {
    import graft.operators.Profile
    val dir = "/root/testdata/sf0.001"
    val rows = Profile.priceHistogram(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
    val n = graft.sources.Tables.lineitem(spark, dir).count()
    assert(rows.map(_._2).sum === n)          // every row lands somewhere
    assert(rows.map(_._1).distinct.length === rows.length)
    // bucket cent-ranges are disjoint and ordered
    rows.sortBy(_._1).sliding(2).foreach {
      case Array(a, b) => assert(a._4 <= b._3, s"$a overlaps $b")
      case _ =>
    }
  }

  test("int8 quantization: bounds and half-step round-trip on any vector") {
    import graft.operators.Similarity
    val vecGen = Gen.chooseNum(1, 24).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-10f, 10f)))
    check("quantize")(forAll(Gen.nonEmptyListOf(vecGen)) { vecs =>
      val df = vecs.zipWithIndex
        .map { case (v, i) => (i.toLong, v.toArray) }
        .toDF("vec_id", "embedding")
      val rows = Similarity.normalizeQuantize(df)
        .select("vec_id", "norm", "q_min", "q_max")
        .as[(Long, Double, Int, Int)].collect()
      rows.length == vecs.length && rows.forall { case (_, n, lo, hi) =>
        // |lane| ≤ norm ⇒ quantized lanes within ±127; zero vectors hit
        // the 1e-9 floor and quantize to all-zero lanes
        n > 0 && lo >= -127 && hi <= 127
      }
    })
  }

  test("fuzzy blocking is complete on arbitrary string sets") {
    import graft.operators.FuzzyMatch
    val sGen = Gen.chooseNum(0, 9).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    def lev(a: String, b: String): Int =
      org.apache.commons.text.similarity.LevenshteinDistance
        .getDefaultInstance.apply(a, b).intValue
    check("fuzzy-complete")(forAll(Gen.nonEmptyListOf(sGen)) { raw =>
      val vals = raw.distinct
      val brute = (for {
        a <- vals; b <- vals if a < b && lev(a, b) <= 2
      } yield (a, b)).toSet
      val got = FuzzyMatch.similarPairs(vals.toDF("v"), "v", 2)
        .select("a", "b").as[(String, String)].collect().toSet
      got == brute
    })
  }

  test("unigram Viterbi expression matches a reference DP on random inventories") {
    import graft.operators.TextAnalysis
    val L = TextAnalysis.UnigramMaxPieceLen
    val Inf = 1000000000000000L
    // independent plain-Scala Viterbi with the EXACT tie semantics the
    // kernel encodes: min (cost, start) via first-wins on ascending
    // start; unreachable/missing-piece candidates excluded at the same
    // < Inf boundary; backtrack collects pieces, unsegmentable → empty
    def ref(word: String, costs: Map[String, Long]): (Long, Seq[String]) = {
      val n = word.length
      val best = Array.fill(n + 2)((Inf, 0))
      best(1) = (0L, 0)
      for (i <- 2 to n + 1) {
        var bc = Inf; var bj = 0
        for (j <- math.max(1, i - L) to i - 1) {
          val c = best(j)._1 + costs.getOrElse(
            word.substring(j - 1, i - 1), Inf)
          if (c < Inf && c < bc) { bc = c; bj = j }
        }
        best(i) = (bc, bj)
      }
      var pos = n + 1
      val ps = scala.collection.mutable.ArrayBuffer[String]()
      var steps = 0
      while (pos > 1 && steps <= n) {
        val (_, bp) = best(pos)
        if (bp >= 1) ps += word.substring(bp - 1, pos - 1)
        pos = bp; steps += 1
      }
      (best(n + 1)._1,
        if (pos == 1) ps.reverse.toSeq else Seq.empty)
    }
    val wordGen = for {
      len <- Gen.choose(1, 12)
      cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    val invGen = for {
      // random multi-char pieces over the same alphabet
      n <- Gen.choose(0, 12)
      ps <- Gen.listOfN(n, for {
        l <- Gen.choose(2, L)
        cs <- Gen.listOfN(l, Gen.oneOf('a', 'b', 'c'))
      } yield cs.mkString)
      // chars individually present-or-absent: absence exercises the
      // unsegmentable path the coverage gate guards
      chars <- Gen.someOf(Seq("a", "b", "c"))
      // small costs make equal-cost paths common, so the (min cost,
      // min start) tie-break is exercised, not just the argmin
      costs <- Gen.listOfN(n + chars.size,
        Gen.oneOf(Gen.choose(0L, 3L), Gen.choose(0L, 5000000L)))
    } yield ((ps ++ chars).distinct zip costs).toMap
    val prop = forAll(Gen.listOfN(8, wordGen), invGen) {
      (words: List[String], inv: Map[String, Long]) =>
        words.forall { w =>
          val (cost, pieces) = TextAnalysis.unigramSegment(w, inv)
          val (rc, rp) = ref(w, inv)
          // cost compares only when segmentable (unreachable cost is
          // sentinel-ish on both sides but may differ in magnitude)
          (rp.isEmpty && pieces.isEmpty) ||
            (cost == rc && pieces == rp)
        }
    }
    val res = SCTest.check(params.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("exact overlap tiers agree on arbitrary corpora and thresholds") {
    import graft.operators.Dedup
    // a tiny token pool forces dense shared-bigram structure, so the
    // int64 pass bounds of the bitmap tier get real exercise — including
    // taus where tau*size lands exactly on an integer; docs of 0-1
    // tokens are featureless, and some corpora are featureless entirely
    val docGen = Gen.chooseNum(0, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e")))
    val corpusGen = Gen.chooseNum(2, 8).flatMap(m => Gen.listOfN(m, docGen))
    val tauGen = Gen.oneOf(0.25, 0.5, 2.0 / 3.0, 0.75, 0.9)
    val measureGen = Gen.oneOf[Dedup.Overlap](Dedup.Jaccard, Dedup.Containment)
    check("overlap-tiers")(forAll(corpusGen, tauGen, measureGen) {
      (ds, tau, m) =>
        val df = ds.zipWithIndex
          .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
          .toDF("doc_id", "text")
        def rows(out: org.apache.spark.sql.DataFrame) =
          out.collect().map(_.toSeq).toSet
        val all = rows(Dedup.overlapPairs(df, m, tau, Dedup.Postings))
        val everyPair = (for {
          i <- ds.indices; j <- (i + 1) until ds.length
        } yield (i.toLong, j.toLong)).toDF("id_a", "id_b")
        Seq(Dedup.overlapPairs(df, m, tau, Dedup.Bitmap),
          Dedup.overlapPairs(df, m, tau),
          Dedup.verifyPairs(df, everyPair, m, tau)).forall(rows(_) == all)
    })
  }

  test("CDC chunks partition the token stream exactly, any corpus") {
    import graft.operators.TextAnalysis
    check("cdc-partition")(forAll(textGen) { lines =>
      val docs = lines.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val chunks = TextAnalysis.cdcChunkText(docs)
        .select("doc_id", "chunk_idx", "chunk_text")
        .as[(Long, Long, String)].collect()
      // per doc: chunks indexed 0..m-1, and joining them in order
      // reproduces the tokenized doc exactly — nothing lost, nothing
      // duplicated, no boundary slips
      lines.zipWithIndex.forall { case (t, i) =>
        val mine = chunks.filter(_._1 == i.toLong).sortBy(_._2)
        mine.map(_._2).toSeq == mine.indices.map(_.toLong) &&
          mine.flatMap(_._3.split(" ")).toSeq == tok(t)
      }
    })
  }

  test("perceptron: stream scorer fold equals the batch feature-map path") {
    import graft.operators.QualityClassifier
    check("perceptron-two-shapes")(forAll(textGen) { lines =>
      val docs = lines.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "t", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val feats = QualityClassifier.perceptronFeatures(docs)
        .localCheckpoint(true)
      val w = QualityClassifier.trainPerceptron(feats)
      val stream = QualityClassifier.scoreDocs(docs, w)
        .select("doc_id", "margin").as[(Long, Long)].collect().toMap
      // batch path: margin from the per-doc feature map under the SAME
      // weights (integer addition is associative — must agree exactly)
      val batch = feats.collect().map { r =>
        val fmap = r.getMap[Long, Long](2)
        r.getLong(0) -> fmap.map { case (f, x) =>
          w.getOrElse(f, 0L) * x }.sum
      }.toMap
      stream == batch
    })
  }

  test("winnowing: every full window covered on random token streams") {
    import graft.operators.TextAnalysis
    check("winnow-coverage")(forAll(textGen) { lines =>
      val docs = lines.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val fps = TextAnalysis.winnowFingerprintsOf(docs)
        .select("doc_id", "pos").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (d, v) => d -> v.map(_._2).toSet }
      lines.zipWithIndex.forall { case (t, i) =>
        val g = tok(t).length - TextAnalysis.WinnowK + 1
        val pos = fps.getOrElse(i.toLong, Set.empty)
        // the winnowing invariant: every full window of W gram
        // positions contains at least one selected fingerprint
        (1 to g - TextAnalysis.WinnowW + 1).forall(j =>
          (j until j + TextAnalysis.WinnowW).exists(p => pos(p.toLong)))
      }
    })
  }
}
