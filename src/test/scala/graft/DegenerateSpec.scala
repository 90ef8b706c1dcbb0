package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-corpus sweep: every operator must return an EMPTY (or
  * trivially small) result on an empty or single-row corpus, never
  * throw. This is the bug class the advisory round caught in the bitmap
  * Jaccard path (vocab=0 → require failure) and that knnIvf had at
  * `seeds.head` — pin the whole family. */
class DegenerateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def emptyDocs: DataFrame =
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private def oneDoc: DataFrame =
    Seq((1L, "tiny", "en", "t", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private def emptyEmb: DataFrame =
    Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")

  private def oneEmb: DataFrame =
    Seq((1L, Array(1f, 2f, 3f), 0)).toDF("vec_id", "embedding", "label")

  private def dirFor(docs: DataFrame): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-degen").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("word count and text analysis survive empty and 1-row corpora") {
    for (docs <- Seq(emptyDocs, oneDoc)) {
      assert(WordCount.wordCount(docs, "text", false).count() <= 1)
      val dir = dirFor(docs)
      assert(TextAnalysis.tokenStats(spark, dir).count() === docs.count())
      assert(TextAnalysis.langId(spark, dir).count() === docs.count())
      assert(TextAnalysis.piiScrub(spark, dir).count() === docs.count())
      // CDC: empty doc → zero chunks; one-token doc → exactly one chunk
      assert(TextAnalysis.cdcChunks(spark, dir).count() === docs.count())
      assert(Curation.curationPipeline(spark, dir).count() <= docs.count())
      // the repetition battery always emits its 14 contract rows; an
      // empty corpus rejects nothing and passes nothing
      val rep = TextAnalysis.gopherRepetitionOf(docs)
        .as[(String, Long)].collect().toMap
      assert(rep.size === 14)
      assert(rep("pass_all") === docs.count())
      assert(rep.filterKeys(_ != "pass_all").values.sum === 0L)
    }
  }

  test("dedup tiers survive empty and sub-shingle corpora") {
    for (docs <- Seq(emptyDocs, oneDoc)) {
      // oneDoc has a single token → zero bigram features (the vocab=0
      // degenerate case the advisory flagged)
      assert(Dedup.jaccardPairsAuto(docs, 0.5).count() === 0)
      assert(Dedup.minhashLshPairs(docs, 32, 8, 0.4).count() === 0)
      assert(Dedup.simhashPairs(docs, 8).count() === 0)
    }
    assert(Dedup.exactGroups(emptyDocs).count() === 0)
    // containment: featureless docs never enter the postings
    for (docs <- Seq(emptyDocs, oneDoc))
      assert(Dedup.containmentPairsAuto(docs, 0.5).count() === 0)
  }

  test("clustering and round-4 text ops survive empty/1-row corpora") {
    val emptyPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponentsStar(emptyPairs).count() === 0)
    for (docs <- Seq(emptyDocs, oneDoc)) {
      assert(Dedup.dedupComponents(docs, 0.5).count() === 0)
      // no pairs → every doc survives the pipeline
      assert(Dedup.nearDupPipeline(docs, 0.5, 32, 8, 0.4).count() ===
        docs.count())
      val dir = dirFor(docs)
      assert(TextAnalysis.docRepetition(spark, dir).count() === docs.count())
      assert(TextAnalysis.topDomains(spark, dir).count() <= 1)
      assert(TextAnalysis.contaminationCheck(spark, dir).count() === 0)
      // empty benchmark set → null bloom → empty result, no crash
      assert(TextAnalysis.contaminationCheckBloom(spark, dir).count() === 0)
      assert(TextAnalysis.sequencePacking(spark, dir).count() ===
        docs.count())
      // 1 doc + its reversed plant: n_docs counts both, flags hold
      val gate = TextAnalysis.fingerprintGate(spark, dir)
        .as[(Long, Long, Int, Int)].collect().head
      assert(gate._3 === 1 && gate._4 === 1)
      assert(Sampling.mixtureSample(
        graft.sources.Tables.documents(spark, dir), "lang", "doc_id",
        Map("en" -> 100), 0).count() === docs.count())
    }
  }

  test("round-6 pipeline ops survive empty/1-row corpora") {
    for (docs <- Seq(emptyDocs, oneDoc)) {
      val dir = dirFor(docs)
      assert(TextAnalysis.boilerplateScrub(spark, dir).count() ===
        docs.count())
      // one doc → one chunk (empty corpus → none)
      assert(TextAnalysis.chunkDocuments(spark, dir).count() ===
        docs.count())
      assert(graft.operators.Incremental.corpusRefresh(spark, dir)
        .count() >= 0)
      // empty corpus and a 1-token doc both have zero bigrams
      assert(TextAnalysis.lmTypicality(spark, dir).count() === 0)
      // docs shorter than the window carry no spans
      assert(Dedup.duplicateSpans(docs, 40).count() === 0)
      // BPE training exhausts gracefully; the gate row stays well-formed
      assert(TextAnalysis.bpeTrainMerges(spark, dir, 5).count() <= 5)
      val bg = TextAnalysis.bpeMergeGate(spark, dir, 5)
        .select("n_merges", "distinct_ok").as[(Int, Int)].collect().head
      assert(bg._2 === 1)
      // gate stays well-formed: one row, flags vacuously 1
      val g = Grouping.heavyHitterGate(spark, dir)
        .as[(Long, Long, Int, Int)].collect()
      assert(g.length === 1)
      assert(g.head._3 === 1 && g.head._4 === 1)
    }
    // empty candidate sketch over an empty word set
    assert(Grouping.heavyHitters(
      Seq.empty[String].toDF("word"), "word", 8).count() === 0)
  }

  test("capstones survive empty and 1-row corpora") {
    for (docs <- Seq(emptyDocs, oneDoc)) {
      val dir = dirFor(docs)
      // cold assembly (both dedup tiers): an empty/solitary corpus has
      // nothing to dedup, decontaminate, or upsample — it must flow
      // through all six stages without a throw
      assert(graft.operators.CorpusAssembly.corpusAssembly(spark, dir)
        .count() >= 0)
      assert(graft.operators.CorpusAssembly.corpusAssembly(spark, dir,
        tau = 0.9, lshTier = true).count() >= 0)
      // refresh: the synthetic delta over an empty corpus is itself
      // empty (every leg filters documents); over one doc it deletes
      // nothing and inserts nothing below id 25 except the lone doc's
      // copy — either way the drift gate's empty-corpus guards must
      // hold (the ADVICE-r9 KL degenerate, now pinned on BOTH engines)
      val out = graft.operators.CorpusAssembly
        .corpusRefreshAssembly(spark, dir).collect()
      assert(out.forall(_.getLong(out.head.fieldIndex("kl_millionths"))
        >= 0L))
    }
  }

  test("late-r10 operators survive empty and 1-row corpora") {
    for (docs <- Seq(emptyDocs, oneDoc)) {
      val dir = dirFor(docs)
      assert(TextAnalysis.winnowFingerprints(spark, dir).count() === 0)
      assert(Dedup.winnowNearDupPairs(docs.select("doc_id", "text"), 0.5)
        .count() === 0)
      assert(Dedup.scrubDuplicateSpans(docs.select("doc_id", "text"))
        .count() === docs.count())
      assert(Sampling.weightedSample(spark, dir).count() === docs.count())
      assert(Curation.domainCap(spark, dir).count() === docs.count())
      assert(Curation.trainedQualityFilter(spark, dir).count()
        <= docs.count())
      assert(Curation.contrastivePairs(spark, dir).count() ===
        docs.count() * 3) // every doc < PlantCount anchors
      assert(Profile.snapshotDrift(spark, dir).count() === 4)
      assert(TextAnalysis.bpePackAssembly(spark, dir).count()
        <= docs.count())
      assert(Retrieval.chunkIndexAssembly(spark, dir).count() === 0)
    }
  }

  test("similarity tiers survive empty corpora and empty query sets") {
    assert(Similarity.knnBruteForce(emptyEmb, emptyEmb, 5).count() === 0)
    assert(Similarity.knnLsh(emptyEmb, emptyEmb, 5).count() === 0)
    assert(Similarity.knnIvf(emptyEmb, emptyEmb, 5).count() === 0)
    assert(Similarity.knnIvf(oneEmb, emptyEmb, 5).count() === 0)
    // empty corpus, non-empty queries: no neighbors, no crash
    assert(Similarity.knnIvf(emptyEmb, oneEmb, 5).count() === 0)
    assert(Similarity.knnPq(emptyEmb, emptyEmb, 5).count() === 0)
    assert(Similarity.knnPq(emptyEmb, oneEmb, 5).count() === 0)
    assert(Similarity.knnPq(oneEmb, emptyEmb, 5).count() === 0)
    assert(Similarity.knnIvfPq(emptyEmb, emptyEmb, 5).count() === 0)
    assert(Similarity.knnIvfPq(emptyEmb, oneEmb, 5).count() === 0)
    assert(Similarity.knnIvfPq(oneEmb, emptyEmb, 5).count() === 0)
    assert(Similarity.ivfPqIndex(emptyEmb)._3.count() === 0)
    assert(Similarity.ivfPqAppend(Array.empty, Array.empty, oneEmb)
      .count() === 0)
    // a zero vector has no direction: its cosine row divides by a zero
    // norm (double NaN/Inf, not an ANSI error) — every tier must
    // survive a corpus containing one rather than crash; result
    // contents for the degenerate row are unspecified, the pin is
    // no-throw + bounded output
    val withZero = Seq(
      (1L, Array(1f, 2f, 3f), 0),
      (2L, Array(0f, 0f, 0f), 0),
      (3L, Array(3f, 2f, 1f), 0)).toDF("vec_id", "embedding", "label")
    val zq = withZero.filter(col("vec_id") <= 2)
    assert(Similarity.knnBruteForce(withZero, zq, 2).count() <= 4)
    assert(Similarity.knnLsh(withZero, zq, 2).count() <= 4)
    assert(Similarity.knnIvf(withZero, zq, 2).count() <= 4)
    assert(Similarity.normalizeQuantize(withZero).count() === 3)
    assert(Similarity.pqTrainStats(emptyEmb).count() === 0)
    assert(Similarity.normalizeQuantize(emptyEmb).count() === 0)
    assert(Similarity.kmeansTrainStats(emptyEmb).count() === 0)
    assert(Similarity.kmeansTrainStats(oneEmb, cells = 8, iters = 2)
      .count() === 2)
    assert(Dedup.embeddingNearDupPairs(emptyEmb, 0.5).count() === 0)
    // a single vector has no pairs
    assert(Dedup.embeddingNearDupPairs(oneEmb, 0.5).count() === 0)
  }

  test("round-6 second-wave operators survive empty/degenerate inputs") {
    // pagerank: empty edge list → empty ranks; self-loop graph converges
    val emptyEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.pageRank(emptyEdges, 3).count() === 0)
    val selfLoop = Seq((1L, 1L)).toDF("src", "dst")
    val r = Graph.pageRank(selfLoop, 3).as[(Long, Long)].collect()
    assert(r.length === 1 && r.head._2 > 0)
    // dense ids: empty counts → empty ids; single word → id 0
    assert(TextAnalysis.denseIdsByCount(
      Seq.empty[(String, Long)].toDF("word", "cnt"), "word").count() === 0)
    assert(TextAnalysis.denseIdsByCount(
      Seq(("w", 3L)).toDF("word", "cnt"), "word")
      .select("id").as[Long].collect().toSeq === Seq(0L))
    // scd2: empty orders → empty history
    val emptyOrders = Seq.empty[(Long, Long, java.sql.Timestamp, String)]
      .toDF("o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority")
    assert(Incremental.scd2History(emptyOrders).count() === 0)
    // scaledZ: constant column → greatest(range,1) guard, all zx equal
    val const = Seq((5L, 1L), (5L, 2L), (5L, 9L)).toDF("x", "y")
    val zs = Layout.scaledZ(const, "x", "y").select("zx").as[Long]
      .collect().toSet
    assert(zs === Set(0L))
    // profile: empty frame → one row per column with zero counts
    val prof = Profile.columnProfile(emptyDocs, Seq("doc_id", "lang"))
      .as[(String, Long, Long, Long, Option[String], Option[String])]
      .collect()
    assert(prof.length === 2)
    prof.foreach { case (_, n, nn, nd, mn, mx) =>
      assert(n === 0 && nn === 0 && nd === 0 && mn.isEmpty && mx.isEmpty)
    }
  }

  test("knn recall gates stay well-formed on an empty query set") {
    // sum() over zero rows is NULL even with a coalesced argument — the
    // gate must still emit one fully-populated row per method (0 hits of
    // 0 needed = vacuously passing), not a NULL n_hits that would poison
    // the driver's hash compare
    val rows = Similarity.knnRecallGates(oneEmb, emptyEmb, 5)
      .as[(String, Long, Long, Int, Int)].collect()
    assert(rows.map(_._1).toSeq === Seq("ivf", "ivfpq", "ivfpq_res", "lsh", "lsh_mp", "pq"))
    rows.foreach { case (_, nRes, nQ, fullK, recallOk) =>
      assert(nRes === 0L && nQ === 0L && fullK === 1 && recallOk === 1)
    }
  }

  test("round-6 third-wave operators survive empty/degenerate inputs") {
    // fuzzy: empty value set, single value, all-equal values (distinct
    // collapses them; no self-pairs because a < b is strict)
    assert(FuzzyMatch.similarPairs(
      Seq.empty[String].toDF("v"), "v", 2).count() === 0)
    assert(FuzzyMatch.similarPairs(
      Seq("solo").toDF("v"), "v", 2).count() === 0)
    assert(FuzzyMatch.similarPairs(
      Seq("dup", "dup", "dup").toDF("v"), "v", 2).count() === 0)

    // OLS: empty input → zero groups; single point → den = 0
    assert(Regression.olsByGroup(
      Seq.empty[(String, Long, Long)].toDF("grp", "x", "y"),
      "grp", "x", "y").count() === 0)
    val single = Regression.olsByGroup(
      Seq(("g", 5L, 9L)).toDF("grp", "x", "y"), "grp", "x", "y")
      .select("slope_num", "slope_den").as[(Long, Long)].collect().head
    assert(single === ((0L, 0L)))

    // triangles: empty edge list → one well-formed zero row (an empty
    // result would poison a downstream join on the metrics)
    val t = Graph.triangleCount(
      Seq.empty[(Long, Long)].toDF("a", "b"))
      .as[(Long, Long, Long)].collect()
    assert(t.toSeq === Seq((0L, 0L, 0L)))

    // checksum of an empty table: (0, 0), not NULL
    val ck = Profile.tableChecksum(
      Seq.empty[(Long, String)].toDF("id", "nm"), "t",
      Seq(col("id"), col("nm")))
      .select("n_rows", "xor56").as[(Long, Long)].collect().head
    assert(ck === ((0L, 0L)))
  }

  test("drift monitors on empty and identical corpora") {
    // empty vs empty: no rows to rank, a (0,0,0,0) KL row — never an
    // NPE on the null total sums or an ANSI divide-by-zero
    assert(Profile.tokenDrift(emptyDocs, emptyDocs).count() === 0)
    val klEmpty = Profile.tokenDriftKl(emptyDocs, emptyDocs)
      .as[(Long, Long, Long, Long)].collect().head
    assert(klEmpty === ((0L, 0L, 0L, 0L)))
    // identical snapshots: every delta 0 and KL exactly 0
    val drift = Profile.tokenDrift(oneDoc, oneDoc)
      .as[(String, Long, Long, Long)].collect()
    assert(drift.forall(_._4 === 0L))
    val kl = Profile.tokenDriftKl(oneDoc, oneDoc)
      .as[(Long, Long, Long, Long)].collect().head
    assert(kl._4 === 0L)
  }

  test("r10 curation, mixture, and signal ops survive empty/1-row corpora") {
    for (docs <- Seq(emptyDocs, oneDoc)) {
      val dir = dirFor(docs)
      // temperature weights: one row per lang present (1-doc corpus:
      // share = weight = 1e6); the composed mixer inherits the shape
      assert(Sampling.temperatureWeights(spark, dir).count() ===
        docs.count())
      assert(Sampling.temperatureMixtureBudget(spark, dir).count() ===
        docs.count())
      assert(Sampling.shardManifest(spark, dir, 4).count() === docs.count())
      // no pairs → every doc is its own cluster and keeps itself
      assert(Dedup.keepBestDedup(docs,
        TextAnalysis.qualityScoreOf(docs), 0.5).count() === docs.count())
      // unplanted outlier pass: a 1-token doc trips the absolute floor,
      // never throws on an empty percentile group
      assert(TextAnalysis.lengthOutliersOf(docs).count() <= docs.count())
      // the release always carries its residual row, even over nothing
      val scr = Curation.smallCellRelease(spark, dir, 8).collect()
      assert(scr.exists(_.getString(0) == "__suppressed__"))
      assert(scr.length <= 2)
      // gate aggregates stay one well-formed row (null flags, no throw)
      assert(TextAnalysis.compressionRatioGate(spark, dir).count() === 1)
    }
  }

  test("lifecycle/forget/filtered/reindex gates survive an empty vector corpus") {
    import org.apache.spark.sql.SaveMode
    val tmp = java.nio.file.Files.createTempDirectory("graft-degenANN").toString
    emptyDocs.write.mode(SaveMode.Overwrite)
      .parquet(s"$tmp/documents.parquet")
    emptyEmb.write.mode(SaveMode.Overwrite)
      .parquet(s"$tmp/embeddings.parquet")
    // every gate must emit its well-formed contract row(s) — the r13
    // ADVICE crash class was max(vec_id) of an empty table NPE-ing in
    // the prefix split
    assert(Similarity.ivfPqReindexGate(spark, tmp).count() === 2)
    assert(Similarity.nndescentAppendGate(spark, tmp).count() === 1)
    assert(Similarity.ivfPqLifecycleGate(spark, tmp).count() === 1)
    assert(Similarity.graphLifecycleGate(spark, tmp).count() === 1)
    assert(Similarity.embeddingDriftGate(spark, tmp).count() === 1)
    assert(Similarity.embeddingDriftCells(spark, tmp).count() === 0)
    assert(Similarity.ivfPqStoreGate(spark, tmp,
      java.nio.file.Files.createTempDirectory("graft-degenStore")
        .toString).count() === 1)
    assert(Similarity.ivfPqCompactGate(spark, tmp,
      java.nio.file.Files.createTempDirectory("graft-degenCompact")
        .toString).count() === 1)
    val f = Similarity.vectorForgetGate(spark, tmp).head()
    assert(f.getAs[Long]("n_emb") === 0L)
    assert(f.getAs[Int]("recall_ok") === 1)
    assert(Similarity.knnIvfPqFilteredGate(spark, tmp).count() === 1)
    // the forget primitives themselves on empty inputs
    assert(Similarity.ivfPqForget(
      Similarity.ivfPqIndex(emptyEmb)._3, emptyEmb.select("vec_id"))
      .count() === 0)
    assert(Similarity.knnGraphForget(emptyEmb,
      emptyEmb.select("vec_id")).count() === 0)
    // forgetting EVERYTHING: one survivor is no graph — empty, no throw
    assert(Similarity.knnGraphForget(oneEmb,
      oneEmb.select("vec_id")).count() === 0)
    // 1-row corpus: every gate still emits its contract row(s) — the
    // wrong-dim (3-lane) vector additionally exercises the empty-PQ
    // degenerate path inside each index-building stage
    val tmp1 = java.nio.file.Files.createTempDirectory("graft-degenANN1")
      .toString
    oneDoc.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$tmp1/documents.parquet")
    oneEmb.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$tmp1/embeddings.parquet")
    assert(Similarity.ivfPqReindexGate(spark, tmp1).count() === 2)
    assert(Similarity.nndescentAppendGate(spark, tmp1).count() === 1)
    assert(Similarity.ivfPqLifecycleGate(spark, tmp1).count() === 1)
    assert(Similarity.graphLifecycleGate(spark, tmp1).count() === 1)
    assert(Similarity.vectorForgetGate(spark, tmp1).count() === 1)
    assert(Similarity.knnIvfPqFilteredGate(spark, tmp1).count() === 1)
    assert(Similarity.embeddingDriftGate(spark, tmp1).count() === 1)
    assert(Similarity.ivfPqStoreGate(spark, tmp1,
      java.nio.file.Files.createTempDirectory("graft-degenStore1")
        .toString).count() === 1)
  }

  test("r15 store/drift/streaming gates survive empty and 1-row corpora") {
    import org.apache.spark.sql.SaveMode
    def freshDir(name: String) =
      java.nio.file.Files.createTempDirectory(name).toString
    for ((docs, emb) <- Seq((emptyDocs, emptyEmb), (oneDoc, oneEmb))) {
      val n = emb.count()
      val tmp = freshDir("graft-degenR15")
      docs.write.mode(SaveMode.Overwrite).parquet(s"$tmp/documents.parquet")
      emb.write.mode(SaveMode.Overwrite).parquet(s"$tmp/embeddings.parquet")
      // the manifest gate runs the FULL mutation chain even on an empty
      // corpus (build → append → compact → forget are all well-defined
      // on zero rows) — the oracle pins live_version 4 there, so the
      // empty path must actually commit four versions, not shortcut
      val m = Similarity.indexManifestGate(spark, tmp,
        freshDir("graft-degenManifest")).head()
      assert(m.getAs[Long]("n_emb") === n)
      assert(m.getAs[Long]("live_version") === 4L)
      Seq("ops_ok", "append_shared", "append_conserved", "compact_ok",
        "forget_ok", "forget_bounded", "probe_ok", "pruned_probe_ok")
        .foreach(f => assert(m.getAs[Int](f) === 1, s"$f at n=$n"))
      assert(Similarity.ivfPqReindexDriftGate(spark, tmp).count() === 2)
      val r = Similarity.manifestRebuildGate(spark, tmp,
        freshDir("graft-degenRebuild")).head()
      assert(r.getAs[Int]("count_rebuild") === 0)
      assert(r.getAs[Int]("recall_ok") === 1)
      // versions_committed is MEASURED from the store's log: the
      // empty corpus never builds (0 versions), the 1-row corpus
      // commits only the build (zero erasure/increment slices) — and
      // either way the degenerate escape declares exercised = 0, so
      // an unexpectedly-degenerate run can't pose as a driven one
      val expectVersions = if (n == 0L) 0L else 1L
      val sf = graft.streaming.Streaming.streamedForget(spark, tmp,
        freshDir("graft-degenSfRoot"), freshDir("graft-degenSfWork"))
        .head()
      assert(sf.getAs[Long]("versions_committed") === expectVersions)
      assert(sf.getAs[Int]("exercised") === 0)
      assert(sf.getAs[Int]("resume_safe") === 1)
      val sa = graft.streaming.Streaming.streamedAppendStore(spark, tmp,
        freshDir("graft-degenSaRoot"), freshDir("graft-degenSaWork"))
        .head()
      assert(sa.getAs[Long]("versions_committed") === expectVersions)
      assert(sa.getAs[Int]("exercised") === 0)
      assert(sa.getAs[Int]("content_match") === 1)
      // mixed lifecycle: zero increment + (at most) a degenerate
      // erasure set still yields the contract row with green flags
      val sl = graft.streaming.Streaming.streamedLifecycle(spark, tmp,
        freshDir("graft-degenSlRoot"), freshDir("graft-degenSlWork"))
        .head()
      assert(sl.getAs[Long]("n_inc") === 0L)
      assert(sl.getAs[Long]("versions_committed") === expectVersions)
      assert(sl.getAs[Int]("exercised") === 0)
      assert(sl.getAs[Int]("content_match") === 1)
      assert(sl.getAs[Int]("resume_safe") === 1)
    }
    // IndexStore primitives directly on a zero-row store
    val root = freshDir("graft-degenEmptyStore")
    val v1 = graft.sources.IndexStore.build(spark, root, emptyEmb)
    assert(v1.files.isEmpty && v1.nRows === 0L)
    val v2 = graft.sources.IndexStore.append(spark, root, emptyEmb)
    assert(v2.version === 2L && v2.nRows === 0L)
    val v3 = graft.sources.IndexStore.forget(spark, root,
      emptyEmb.select("vec_id"))
    assert(v3.version === 3L && v3.files.isEmpty)
    assert(graft.sources.IndexStore.codes(spark, root, v3).count() === 0L)
    graft.sources.IndexStore.vacuum(spark, root, 1, minAgeMs = 0L)
    assert(graft.sources.IndexStore.open(spark, root).version === 3L)
  }

  test("ANN bitext miner: under-k neighborhoods score by actual counts") {
    import org.apache.spark.sql.SaveMode
    // one side SMALLER than k = 4: every en→de probe retrieves at most
    // 2 rows, so the da-neighborhoods are structurally under-full — the
    // case where the margin must divide by the ACTUAL retrieved count
    // (ca + cb), not an assumed-full 2k, and the sa/sb joins must not
    // silently drop pairs (r12 verdict/advice)
    val dim = 64 // PqM * PqSubDim — full-dim so the IVFADC tier is live
    def vec(seed: Int): Array[Float] =
      Array.tabulate(dim)(j => math.sin(seed * 131 + j * 17).toFloat)
    val en = (0 until 6).map(i => (i + 1L, vec(i)))
    val de = Seq((101L, vec(0).map(_ * 2f)),
                 (102L, vec(1).map(_ + 0.01f)))
    val tmp = java.nio.file.Files.createTempDirectory("graft-bitext").toString
    (en.map { case (id, _) => (id, s"en doc $id", "en", "t", 8L) } ++
      de.map { case (id, _) => (id, s"de doc $id", "de", "t", 8L) })
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/documents.parquet")
    (en ++ de).map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/embeddings.parquet")

    val out = Similarity.mineBitextAnn(spark, tmp)
      .as[(Long, Long, Double, Long)].collect().toSet

    // expected answer via a plain-Scala model. With |de| = 2 < k and
    // the auto policies (nprobe = all cells, rerank = 100 ≥ corpus)
    // both probes are EXHAUSTIVE exact-cosine retrievals, so the
    // candidate set is deterministic: every (en, de) pair via direction
    // A (ca = 2), each de's top-4 en via direction B (cb = 4)
    val k = 4
    val vs = (en ++ de).map { case (id, v) =>
      id -> v.map(_.toDouble) }.toMap
    def cos6(x: Long, y: Long): Double = {
      val (a, b) = (vs(x), vs(y))
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- 0 until dim) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      }
      val d = dot / (math.max(math.sqrt(na), 1e-9) *
        math.max(math.sqrt(nb), 1e-9))
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val enIds = en.map(_._1); val deIds = de.map(_._1)
    val daPairs = for (s <- enIds; t <- deIds) yield (s, t) // top-2 of 2
    val dbPairs = deIds.flatMap(t => enIds.map(s => (s, t))
      .sortBy { case (s, _) => (-cos6(s, t), s) }.take(k))
    def cm(p: (Long, Long)): Long = math.round(cos6(p._1, p._2) * 1e6)
    val sa = enIds.map(s => s -> daPairs.filter(_._1 == s).map(cm).sum).toMap
    val ca = enIds.map(s => s -> daPairs.count(_._1 == s).toLong).toMap
    val sb = deIds.map(t => t -> dbPairs.filter(_._2 == t).map(cm).sum).toMap
    val cb = deIds.map(t => t -> dbPairs.count(_._2 == t).toLong).toMap
    val expected = enIds.flatMap { s =>
      val cands = (daPairs ++ dbPairs).filter(_._1 == s).distinct
        .filter(p => sa(s) + sb(p._2) > 0)
        .map { case (_, t) =>
          (t, cos6(s, t),
            cm((s, t)) * (ca(s) + cb(t)) * 1000000L / (sa(s) + sb(t))) }
      cands.sortBy { case (t, _, m) => (-m, t) }.headOption
        .filter(_._3 >= 1000000L)
        .map { case (t, c, m) => (s, t, c, m) }
    }.toSet
    assert(ca.values.forall(_ == 2L), "da-neighborhoods should be under-full")
    assert(out === expected)
    assert(out.nonEmpty)
  }
}
