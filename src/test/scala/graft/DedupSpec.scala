package graft

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def docs = Tables.documents(spark, dir)
  private val planted: Set[(Long, Long)] =
    (0L until 20L).map(i => (i, i + Dedup.DupIdOffset)).toSet
  /** The postings tier of the exact-overlap core — the reference every
    * other tier is compared against. */
  private def postings(corpus: org.apache.spark.sql.DataFrame,
                       m: Dedup.Overlap, tau: Double) =
    Dedup.overlapPairs(corpus, m, tau, Dedup.Postings)

  test("exact dedup removes planted exact copies, keeps originals") {
    val corpus = Dedup.withExactDups(docs)
    assert(corpus.count() === 520)
    val kept = Dedup.exactDedup(corpus)
    assert(kept.count() === 500)
    // representatives are the min doc_id, i.e. the originals survive
    assert(kept.filter(col("doc_id") >= Dedup.DupIdOffset).count() === 0)
  }

  test("exact jaccard pairs recover the planted near-dups, with J >= 0.9") {
    val rows = postings(Dedup.withNearDups(docs), Dedup.Jaccard, 0.5)
      .as[(Long, Long, Double)].collect()
    val pairs = rows.map(r => (r._1, r._2)).toSet
    // the corpus itself contains genuine near-dups (e.g. 0/50/82 cluster),
    // so planted is a subset, not the whole result
    assert(planted.subsetOf(pairs))
    assert(rows.filter(r => planted.contains((r._1, r._2))).forall(_._3 >= 0.9))
  }

  test("containment finds planted half-copies that Jaccard misses") {
    val corpus = Dedup.withContainedDups(docs)
    val rows = postings(corpus, Dedup.Containment, 0.9)
      .as[(Long, Long, Double)].collect()
    // every planted half-doc is ≥0.9-contained in its original (its
    // only possible novel bigram straddles the cut), direction
    // (contained = the copy, container = the original)
    val found = rows.map(r => (r._2, r._1)).toSet
    val missing = planted.diff(found)
    assert(missing.isEmpty, s"missing containments: ${missing.take(5)}")
    // the SYMMETRIC tier at the same tau misses the plants wholesale —
    // the regime this operator exists for (J of a half-copy ≈ 0.5)
    val jac = postings(corpus, Dedup.Jaccard, 0.9)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2)).toSet
    assert(planted.intersect(jac).size < planted.size / 2,
      "half-copies unexpectedly pass symmetric Jaccard at 0.9")
    // no self-pairs; every ratio within [tau, 1]
    assert(rows.forall(r => r._1 != r._2))
    assert(rows.forall(r => r._3 >= 0.9 && r._3 <= 1.0))
  }

  test("containment bitmap and auto tiers equal the postings tier") {
    val corpus = Dedup.withContainedDups(docs)
    // tau low enough that organic partial overlaps join the plants, so
    // the equality is exercised beyond the easy containment-1.0 rows
    val all = postings(corpus, Dedup.Containment, 0.6)
      .as[(Long, Long, Double)].collect().toSet
    assert(all.nonEmpty)
    val bitmap = Dedup.overlapPairs(corpus, Dedup.Containment, 0.6,
      Dedup.Bitmap).as[(Long, Long, Double)].collect().toSet
    assert(bitmap === all)
    // this corpus' dense bigram vocab selects the bitmap tier
    val auto = Dedup.containmentPairsAuto(corpus, 0.6)
      .as[(Long, Long, Double)].collect().toSet
    assert(auto === all)
    // degenerate: a featureless corpus yields the empty frame, not a crash
    val bare = Seq((1L, "x"), (2L, "")).toDF("doc_id", "text")
    assert(Dedup.containmentPairsAuto(bare, 0.6).count() === 0)
  }

  test("candidate-bounded containment equals the all-pairs tier on its pairs") {
    val corpus = Dedup.withContainedDups(docs)
    val all = postings(corpus, Dedup.Containment, 0.9)
      .as[(Long, Long, Double)].collect().toSet
    // feed the verifier exactly the unordered pairs the all-pairs tier
    // passed — it must reproduce the identical directional rows
    val cand = all.map { case (c, k, _) =>
      (math.min(c, k), math.max(c, k)) }.toSeq
      .toDF("id_a", "id_b").distinct()
    val verified = Dedup.verifyPairs(corpus, cand, Dedup.Containment, 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(verified === all)
  }

  test("keepBestDedup keeps the highest-quality member per cluster") {
    val corpus = Dedup.withNearDups(docs)
    val quality = TextAnalysis.qualityScoreOf(corpus)
    val kept = Dedup.keepBestDedup(corpus, quality, 0.5)
      .as[(Long, Long, Long, Double)].collect()
    // clusters (incl. singletons) partition the corpus exactly
    assert(kept.map(_._2).sum === corpus.count())
    // independent recompute: group every doc by its component (self for
    // singletons) and take the (quality DESC, doc_id ASC) argmax
    val comp = Dedup.dedupComponents(corpus, 0.5)
      .as[(Long, Long)].collect().toMap
    val q = quality.select(col("doc_id"), col("quality_score"))
      .as[(Long, Double)].collect().toMap
    val expected = corpus.select("doc_id").as[Long].collect()
      .groupBy(id => comp.getOrElse(id, id)).map { case (c, members) =>
        val best = members.minBy(m => (-q(m), m))
        (c, members.length.toLong, best, q(best))
      }.toSet
    assert(kept.toSet === expected)
  }

  test("incremental ingest filter drops every planted fresh near-dup") {
    val fresh = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + Dedup.DupIdOffset).as("doc_id"),
        regexp_replace(col("text"), "^[^ ]+ ", "").as("text"))
    val dropped = Dedup.incrementalNearDup(docs, fresh)
      .as[(Long, Long, Double)].collect()
    val byId = dropped.map(r => r._1 -> r._2).toMap
    // every planted fresh doc is flagged (dup_of is the SMALLEST J>=0.9
    // base match, which an organic twin may claim — membership + the
    // tau floor are the invariants)
    assert((0L until 20L).forall(i => byId.contains(i + Dedup.DupIdOffset)),
      s"missing planted dups: ${(0L until 20L)
        .filterNot(i => byId.contains(i + Dedup.DupIdOffset))}")
    assert(dropped.forall(_._3 >= 0.9))
    assert(dropped.forall(_._2 < Dedup.DupIdOffset),
      "dup_of must reference the BASE corpus")
  }

  test("pair-bounded verification equals the all-pairs tier on every pair") {
    // feed jaccardVerifyPairs the COMPLETE pair set: it must reproduce
    // the postings-join tier exactly (same features, same rounded J) —
    // the pipeline's verified set is then independent of which tier ran
    val corpus = Dedup.withNearDups(docs)
    val ids = corpus.select(col("doc_id")).as[Long].collect().sorted
    val allPairs = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
    } yield (ids(i), ids(j))).toDF("id_a", "id_b")
    val verified = Dedup.jaccardVerifyPairs(corpus, allPairs, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val naive = postings(corpus, Dedup.Jaccard, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(verified === naive)
  }

  test("bitmap jaccard equals the naive postings join exactly") {
    val corpus = Dedup.withNearDups(docs)
    val naive = postings(corpus, Dedup.Jaccard, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val bitmap = Dedup.overlapPairs(corpus, Dedup.Jaccard, 0.5, Dedup.Bitmap)
      .as[(Long, Long, Double)].collect().toSet
    assert(bitmap === naive)
    // the auto selector must land on a correct implementation either way
    val auto = Dedup.jaccardPairsAuto(corpus, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(auto === naive)
  }

  test("minhash LSH candidates include every planted near-dup pair") {
    val pairs = Dedup.minhashLshPairs(Dedup.withNearDups(docs), 32, 8, 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(planted.subsetOf(pairs))
  }

  test("simhash pairs find most planted near-dups at dist<=8") {
    // short docs give small per-bit vote margins: dropping one bigram
    // flips ~2-8 of 62 bits (measured planted distances 2..13)
    val pairs = Dedup.simhashPairs(Dedup.withNearDups(docs), 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(planted.intersect(pairs).size >= 15)
  }

  test("simhash banding keeps the pigeonhole guarantee at maxDist=16") {
    // adversarial plant for the fixed-width-chunk aliasing bug: 16 bits
    // set at positions 0,4,8,...,60 — exactly one differing bit in each
    // 4-bit fixed-width chunk, so the old ceil(62/17)=4-bit scheme (whose
    // 17th chunk shifted by 64 ≡ 0, aliasing chunk 0) had NO agreeing
    // chunk and silently dropped this Hamming-16 pair. The variable-width
    // boundaries i*62/17 include the 3-bit range [29,32), which contains
    // no multiple of 4 — pigeonhole holds and the pair must be found.
    val sigB = (0 until 16).map(i => 1L << (4 * i)).reduce(_ | _)
    val sigs = Seq((1L, 0L), (2L, sigB)).toDF("doc_id", "sh")
    val got = Dedup.simhashPairsFromSig(sigs, 16)
      .as[(Long, Long, Long)].collect()
    assert(got.toSeq === Seq((1L, 2L, 16L)))
  }

  test("knn IVF returns k results per query with reasonable recall") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 10)
    val bf = Similarity.knnBruteForce(emb, q, 5)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.knnIvf(emb, q, 5)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    assert(ivf.size === 50)
    val recall = bf.intersect(ivf).size.toDouble / bf.size
    info(f"IVF recall@5 = $recall%.2f (16 cells, 8 probes, 3 Lloyd iters)")
    // measured 0.90 here with the spherical Lloyd update;
    // 0.6 matches the driver gate's floor with real margin
    assert(recall >= 0.6)
  }

  test("IVFADC HOF probe tier (cells > 64) is exhaustive-exact when saturated") {
    import graft.operators.Similarity
    // cells = 80 crosses HofCellThreshold, so the centroid math runs
    // the single-2-D-literal transform tier (the O(√N)-cells production
    // shape) instead of the per-centroid codegen expansion; with
    // nprobe = cells and rerank ≥ corpus the probe is an exhaustive
    // exact-cosine retrieval — it must EQUAL brute force row for row,
    // pinning the HOF tier's struct naming, sort, ADC and re-rank
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 10)
    val bf = Similarity.knnBruteForce(emb, q, 5)
      .select("query_id", "nn_id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    val hof = Similarity.knnIvfPq(emb, q, 5, cells = 80, nprobe = 80,
        rerank = 100000)
      .as[(Long, Long, Int)].collect().toSet
    assert(hof === bf)
  }

  test("ivfpq reindex gate: trigger math, occupancy drift, append audit") {
    import graft.operators.Similarity
    // pure policy, sqrt regime (between the 16 floor and 4096 cap):
    // cells ~ 4*sqrt(N), so the >=2x-cells trigger trips at ~4x corpus
    // growth — 16x growth always trips, 2x growth never does
    assert(Similarity.scaledCells(360000) >=
      2 * Similarity.scaledCells(90000))
    assert(Similarity.scaledCells(180000) <
      2 * Similarity.scaledCells(90000))
    assert(Similarity.scaledCells(1000000) >=
      2 * Similarity.scaledCells(62500))
    val g = Similarity.ivfPqReindexGate(spark, dir).collect()
    assert(g.length === 2)
    val stale = g.find(_.getAs[String]("snapshot") == "stale").get
    val fresh = g.find(_.getAs[String]("snapshot") == "fresh").get
    // the real append path at the stale cell count: no rows lost, every
    // cell id addresses a trained cell (partition-layout safety)
    assert(stale.getAs[Int]("append_complete") === 1)
    assert(stale.getAs[Int]("cells_in_range") === 1)
    // occupancy drift is what the trigger bounds: the stale snapshot's
    // mean occupancy is never better than the freshly-provisioned one
    assert(stale.getAs[Long]("occ_mean") >= fresh.getAs[Long]("occ_mean"))
    // the emitted trigger flag IS the policy recomputed
    val expect = if (Similarity.scaledCells(stale.getAs[Long]("n_now")) >=
      2 * Similarity.scaledCells(stale.getAs[Long]("n_trained_at"))) 1 else 0
    assert(stale.getAs[Int]("rebuild") === expect)
  }

  test("graph-tier semantic dedup: subset by construction, gated recall, survivors") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, dir)
    val g = Dedup.semanticDedupGraphGate(emb, tau = 0.45).head()
    assert(g.getAs[Long]("n_vectors") === emb.count())
    assert(g.getAs[Int]("subset_ok") === 1)
    assert(g.getAs[Int]("recall_ok") === 1)
    assert(g.getAs[Int]("survivors_ok") === 1)
    // the verify stage re-runs embeddingNearDupPairs' exact formula, so
    // every emitted pair must appear in the global pair set verbatim
    val gp = Dedup.semanticPairsGraph(emb, 0.45)
    val ex = Dedup.embeddingNearDupPairs(emb, 0.45).select("id_a", "id_b")
    assert(gp.join(ex, Seq("id_a", "id_b"), "left_anti").count() === 0L)
    // survivors + dropped partition the corpus
    val surv = Dedup.semanticDedupGraph(emb, 0.45)
    assert(surv.count() <= emb.count())
    assert(surv.join(emb, Seq("vec_id"), "left_semi").count() === surv.count())
  }

  test("nn-descent graph: full-k shape, gated recall, deterministic replay") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val g = Similarity.nndescentGate(emb).head()
    // every node holds exactly min(k, N-1) edges — the graph semantic
    // (top-k FOR EVERY corpus vector, not just a bounded query set)
    assert(g.getAs[Long]("n_nodes") === n)
    assert(g.getAs[Long]("n_edges") === n * math.min(10L, n - 1))
    assert(g.getAs[Int]("full_k") === 1)
    assert(g.getAs[Int]("recall_ok") === 1)
    // pure function of (corpus, params): seeded buckets + fixed iters +
    // 6-dp sims + (desc sim, asc nn_id) tie-breaks — two runs identical.
    // The registry is kb-keyed (buildK = 20 resolves to the SAME entry
    // as the k = 10 default now), so the second run clears the cache
    // to be a real recompute, not a cache hit
    val r1 = Similarity.knnGraphNnDescent(emb, 10)
      .as[(Long, Long, Double, Int)].collect().toSet
    Similarity.clearNnGraphCacheForTest()
    val r2 = Similarity.knnGraphNnDescent(emb, 10, buildK = 20)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(r1 === r2)
    assert(r1.size.toLong === n * math.min(10L, n - 1))
  }

  test("nn-descent rho-sampling: quarter candidate volume, recall above floor") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val g = Similarity.knnGraphNnDescent(emb, 10, 5, 4, 8, 0, 41L, 0.5)
      .select("query_id", "nn_id")
    // the sampled descent still delivers a full graph...
    assert(g.count() === n * math.min(10L, n - 1))
    // ...and holds the recall floor vs brute force (measured 0.997 at
    // sf0.001 for 4x less per-round pair work; floor leaves margin)
    val bf = Similarity.knnBruteForce(emb, emb, 10)
      .select("query_id", "nn_id")
    val hits = g.join(bf, Seq("query_id", "nn_id"), "left_semi").count()
    val recall = hits.toDouble / bf.count()
    info(f"rho=0.5 recall@10 = $recall%.3f")
    assert(recall >= 0.7)
  }

  test("nn-descent default rho: resolver pins the measured-best full descent") {
    import graft.operators.Similarity
    // the default is the full descent (see the rho-sampling
    // knnGraphNnDescent's scaladoc): the default path's resume namespace
    // (round snapshots, registry key, output) is identical to an
    // explicit rho=1.0 build
    val emb = Tables.embeddings(spark, dir)
    assert(Similarity.nndescentKeyFor(emb) ===
      Similarity.nndescentKeyFor(emb, rho = 1.0))
  }

  test("graph append: arrivals descend into the base graph, full-k, gated recall") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, dir)
    val gate = Similarity.nndescentAppendGate(spark, dir).head()
    val n = emb.count()
    assert(gate.getAs[Long]("n_base") === n - n / 8)
    assert(gate.getAs[Long]("n_inc") === n / 8)
    assert(gate.getAs[Long]("n_edges") === n * math.min(10L, n - 1))
    assert(gate.getAs[Int]("full_k") === 1)
    assert(gate.getAs[Int]("recall_ok") === 1)
    // every appended id is present as a query node with a full list —
    // the arrivals really joined the graph, not just the base repair
    val nBase = n - n / 8
    val thr = emb.select(col("vec_id")).orderBy(asc("vec_id"))
      .limit(nBase.toInt).agg(max("vec_id")).head().getLong(0)
    val g = Similarity.knnGraphAppend(emb.filter(col("vec_id") <= thr),
      emb.filter(col("vec_id") > thr))
    val newNodes = g.filter(col("query_id") > thr)
      .groupBy("query_id").agg(count(lit(1)).as("c"))
    assert(newNodes.count() === n / 8)
    assert(newNodes.filter(col("c") =!= math.min(10L, n - 1)).count() === 0L)
  }

  test("hubness histogram conserves node and edge mass") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, dir)
    val gate = Similarity.hubnessGate(emb).head()
    assert(gate.getAs[Int]("edge_mass_ok") === 1)
    assert(gate.getAs[Int]("node_mass_ok") === 1)
    assert(gate.getAs[Int]("bound_ok") === 1)
    // the histogram is the direct in-degree recompute of the graph
    val h = Similarity.knnGraphHubness(emb)
      .as[(Long, Long)].collect().toMap
    val direct = Similarity.knnGraphNnDescent(emb, 10)
      .groupBy("nn_id").agg(count(lit(1)).as("d"))
      .groupBy("d").agg(count(lit(1)).as("c"))
      .as[(Long, Long)].collect().toMap
    val orphans = emb.count() - direct.values.sum
    assert(h === (if (orphans > 0) direct + (0L -> orphans) else direct))
  }

  test("knn LSH result is a subset-quality approximation of brute force") {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 10)
    val bf = Similarity.knnBruteForce(emb, q, 5)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.knnLsh(emb, q, 5)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    assert(lsh.size === 50) // k found for every query
    val recall = bf.intersect(lsh).size.toDouble / bf.size
    info(f"LSH recall@5 = $recall%.2f")
    // 48-bit/12-band default measured 0.82 here; 0.6 leaves
    // margin without tolerating a real regression
    assert(recall >= 0.6)
  }

  test("star components match propagation and survive deep chains") {
    // two chains and an isolated pair: {1,2,3,4} via 1-2,2-3,3-4,
    // {10,11}, {20,21,22} a triangle — labels are component minima
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("id_a", "id_b")
    val star = Dedup.connectedComponentsStar(pairs)
      .as[(Long, Long)].collect().toMap
    assert(star === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // a 201-node path (diameter 200) would need 200 min-label
    // propagation rounds, but the star closure's O(log² n) alternation
    // collapses it well inside the default iteration budget, including
    // with edges listed against the canonical orientation
    val chain = (0L until 200L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponentsStar(chain)
      .as[(Long, Long)].collect().toMap
    assert(got === (0L to 200L).map(_ -> 0L).toMap)
  }

  test("semantic dedup: cell-bounded pairs are a high-recall exact subset") {
    val emb = Tables.embeddings(spark, dir)
    val global = Dedup.embeddingNearDupPairs(emb, 0.45)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sem = Dedup.semanticPairs(emb, 0.45)
      .as[(Long, Long)].collect().toSet
    // subset is structural (same τ, same rounded formula, fewer
    // candidates); recall is deterministic per corpus — 0.857 here
    assert(sem.subsetOf(global))
    assert(sem.size.toDouble >= 0.75 * global.size)
    // survivors: every vector minus non-min members of the sem-pair
    // closure, and never fewer than the global closure leaves
    val survivors = Dedup.semanticDedup(emb, 0.45)
      .as[Long].collect().toSet
    val semDropped = Dedup.connectedComponentsStar(sem.toSeq
      .toDF("id_a", "id_b"))
      .filter(col("comp") =!= col("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(survivors.size === emb.count() - semDropped.size)
    assert(semDropped.intersect(survivors).isEmpty)
    val gate = Dedup.semanticDedupGate(emb, 0.45)
      .as[(Long, Long, Int, Int, Int)].collect()
    assert(gate.length === 1)
    val (nVec, nExact, subsetOk, recallOk, survivorsOk) = gate.head
    assert(nVec === emb.count())
    assert(nExact === global.size)
    assert(subsetOk === 1 && recallOk === 1 && survivorsOk === 1)
  }

  test("dedup components label every planted pair with the original id") {
    val comps = Dedup.dedupComponents(Dedup.withNearDups(docs), 0.5)
      .as[(Long, Long)].collect().toMap
    // every planted (i, i+offset) pair that passed the Jaccard tier must
    // sit in one component labeled by an id <= i (the min member)
    comps.foreach { case (docId, comp) => assert(comp <= docId) }
    planted.foreach { case (a, b) =>
      if (comps.contains(b)) assert(comps(b) === comps(a))
    }
  }

  test("neardup pipeline drops exactly the non-min cluster members") {
    val corpus = Dedup.withNearDups(docs)
    val survivors = Dedup.nearDupPipeline(corpus, 0.5, 32, 8, 0.4)
      .as[(Long, String)].collect().map(_._1).toSet
    val comps = Dedup.dedupComponents(corpus, 0.5)
      .as[(Long, Long)].collect()
    val dropped = comps.collect { case (id, c) if c != id => id }.toSet
    val all = corpus.select("doc_id").as[Long].collect().toSet
    assert(dropped.nonEmpty) // the plants guarantee real clusters
    assert(survivors === all -- dropped)
    // every cluster keeps exactly its min member (which may be a natural
    // near-dup's smaller partner, not necessarily the planted original)
    comps.groupBy(_._2).foreach { case (c, members) =>
      assert(survivors.contains(c), s"component min $c was dropped")
      members.filter(_._1 != c).foreach { case (id, _) =>
        assert(!survivors.contains(id), s"non-min $id of comp $c survived")
      }
    }
  }

  test("simhash agreement at dist<=16 equals the exact jaccard tier") {
    val corpus = Dedup.withNearDups(docs)
    val exact = Dedup.jaccardPairsAuto(corpus, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // measured exact-tier hamming distances top out at 13 on this corpus,
    // so the gate threshold of 16 must give agreement == exact tier
    val agree = Dedup.simhashAgreement(corpus, 0.5, 16)
      .as[(Long, Long, Double)].collect().toSet
    assert(agree === exact)
  }

  test("bitext mining: full result equals an independent driver recompute") {
    import graft.operators.Similarity
    val out = Similarity.mineBitext(spark, dir)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(out.nonEmpty)
    // independent path: collect vectors + langs, redo cosine/rank/
    // margin in plain Scala with the same 6-dp HALF_UP rounding and
    // the same integer-micro margin arithmetic
    val langs = Tables.documents(spark, dir)
      .select("doc_id", "lang").as[(Long, String)].collect().toMap
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble).toArray }.toMap
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val en = vecs.keys.filter(langs.get(_).contains("en")).toSeq.sorted
    val de = vecs.keys.filter(langs.get(_).contains("de")).toSeq.sorted
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i) }
      r6(d / (math.sqrt(na) * math.sqrt(nb)))
    }
    val pairs = for (s <- en; t <- de)
      yield (s, t, cos(vecs(s), vecs(t)))
    val cm = pairs.map { case (s, t, c) => (s, t) -> math.round(c * 1e6) }.toMap
    val saM = en.map(s => s -> pairs.filter(_._1 == s)
      .sortBy(p => (-p._3, p._2)).take(4).map(p => cm((p._1, p._2))).sum).toMap
    val sbM = de.map(t => t -> pairs.filter(_._2 == t)
      .sortBy(p => (-p._3, p._1)).take(4).map(p => cm((p._1, p._2))).sum).toMap
    val expected = en.flatMap { s =>
      val cands = de.map { t =>
        val denom = saM(s) + sbM(t)
        (t, pairs.find(p => p._1 == s && p._2 == t).get._3,
          if (denom > 0) cm((s, t)) * 8L * 1000000L / denom else Long.MinValue)
      }.filter(_._3 != Long.MinValue)
      cands.sortBy(c => (-c._3, c._1)).headOption
        .filter(_._3 >= 1000000L)
        .map { case (t, c, m) => (s, t, c, m) }
    }.toSet
    assert(out === expected)
  }

  test("ANN bitext miner: gate clears the recall floor; one pair per source") {
    import graft.operators.Similarity
    val g = Similarity.bitextAnnGate(spark, dir)
      .as[(Long, Long, Long, Int, Int)].head()
    assert(g._1 > 0 && g._2 > 0)  // both language sides populated
    assert(g._3 > 0)              // the exact tier mined pairs to recall against
    assert(g._4 === 1, "ANN pair recall under the 0.8 floor")
    assert(g._5 === 1, "miner emitted more than one pair per source doc")
    val out = Similarity.mineBitextAnn(spark, dir)
      .as[(Long, Long, Double, Long)].collect()
    assert(out.nonEmpty)
    // miner contract: at most one best-margin target per source, every
    // emitted margin clears the floor, cosines are genuine cosines
    assert(out.map(_._1).distinct.length === out.length)
    assert(out.forall(_._4 >= 1000000L))
    assert(out.forall(p => p._3 >= -1.0 && p._3 <= 1.0))
  }

  test("knn recall gates assert full-k and recall floors for all tiers") {
    val emb = Tables.embeddings(spark, dir)
    val rows = Similarity.knnRecallGates(emb, emb.filter(col("vec_id") < 10), 5)
      .as[(String, Long, Long, Int, Int)].collect()
    assert(rows.map(_._1).toSeq === Seq("ivf", "ivfpq", "ivfpq_res", "lsh", "lsh_mp", "pq"))
    rows.foreach { case (m, nRes, nQ, fullK, recallOk) =>
      assert(nRes === 50L, m)
      assert(nQ === 10L, m)
      assert(fullK === 1, m)
      assert(recallOk === 1, s"$m recall under floor")
    }
  }

  test("kmeans training: monotone objective, every vector assigned") {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val rows = Similarity.kmeansTrainStats(emb, cells = 8, iters = 3)
      .as[(Int, Long, Int, Int)].collect()
    assert(rows.map(_._1).toSeq === Seq(0, 1, 2))
    rows.foreach { case (i, na, cellsOk, improved) =>
      assert(na === n, s"iter $i lost vectors")
      assert(cellsOk === 1, s"iter $i cell usage out of bounds")
      assert(improved === 1, s"iter $i objective regressed")
    }
  }

  test("int8 quantization stays in range and round-trips within half-step") {
    val emb = Tables.embeddings(spark, dir)
    val rows = Similarity.normalizeQuantize(emb)
      .select("vec_id", "norm", "q_sum", "q_min", "q_max")
      .as[(Long, Double, Long, Int, Int)].collect()
    assert(rows.length === emb.count())
    rows.foreach { case (id, n, _, lo, hi) =>
      assert(n > 0, s"vec $id norm")
      // |lane| <= norm always, so quantized lanes stay within ±127
      assert(lo >= -127 && hi <= 127, s"vec $id range [$lo,$hi]")
    }
    // spot-check one vector's checksum against a local recompute of the
    // exact published formula (round-6 norm, floor(x/norm*127+0.5))
    val (id0, n0, qs0, _, _) = rows.minBy(_._1)
    val v = emb.filter(col("vec_id") === id0)
      .select("embedding").as[Seq[Float]].collect().head.map(_.toDouble)
    val norm = math.max(BigDecimal(math.sqrt(v.map(x => x * x).sum))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, 1e-9)
    assert(math.abs(norm - n0) < 1e-12)
    val qsum = v.map(x =>
      math.max(-127L, math.min(127L,
        math.floor(x / norm * 127 + 0.5).toLong))).sum
    assert(qsum === qs0)
  }

  test("duplicate spans: planted shared substring found, uniques silent") {
    import spark.implicits._
    // a 45-char run shared by docs 1 and 2 at different offsets inside
    // otherwise-unique text → with 40-char windows, 6 consecutive dup
    // window starts per doc = ONE span of 45 chars; doc 3 has none
    val shared = "s" * 45
    val df = Seq(
      (1L, "a" * 10 + shared + "b" * 10),
      (2L, "c" * 10 + shared + "d" * 10),
      (3L, "e" * 65)).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(df, windowLen = 40)
      .as[(Long, Long, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === Map(1L -> ((1L, 45L, 45)), 2L -> ((1L, 45L, 45))))
  }

  test("duplicate spans: two separated shared runs become two spans") {
    import spark.implicits._
    val s1 = "x" * 42
    val s2 = "y" * 41
    val df = Seq(
      (1L, s1 + "a" * 30 + s2),
      (2L, "b" * 5 + s1 + "c" * 50 + s2 + "d" * 5)).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(df, windowLen = 40)
      .as[(Long, Long, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // spans of 42 and 41 chars in each doc
    assert(got === Map(1L -> ((2L, 83L, 42)), 2L -> ((2L, 83L, 42))))
  }

  test("winnow near-dup tier: planted pairs caught BY GUARANTEE, J exact") {
    val corpus = Dedup.withNearDups(docs)
    val rows = Dedup.winnowNearDupPairs(corpus, 0.5)
      .as[(Long, Long, Double)].collect()
    val pairs = rows.map(r => (r._1, r._2)).toSet
    // each planted copy shares its base's entire tail (hundreds of
    // tokens >> w+k-1 = 7), so the winnowing theorem makes candidate
    // recall 1 deterministically — no LSH luck involved
    assert(planted.subsetOf(pairs),
      s"guarantee violated: ${planted.diff(pairs).take(5)}")
    // verified pairs carry the exact postings-tier Jaccard
    val exact = postings(corpus, Dedup.Jaccard, 0.5)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(rows.forall(r => exact.get((r._1, r._2)).contains(r._3)))
  }

  test("span scrub: owner keeps its copy, others cut, rescan finds nothing") {
    import spark.implicits._
    val shared = ('a' to 'z').mkString + "0123456789ABCDEFGHIJ" // 46 chars
    val df = Seq(
      (1L, "q" * 10 + shared + "r" * 10),
      (2L, "s" * 10 + shared + "t" * 10),
      (3L, shared + "u" * 20),
      (4L, "v" * 65)).toDF("doc_id", "text")
    val got = Dedup.scrubbedSpanDocs(df, windowLen = 40)
      .select("doc_id", "scrubbed", "n_cut_chars")
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    // doc 1 is the canonical owner — untouched
    assert(got(1L)._2 === "q" * 10 + shared + "r" * 10 &&
      got(1L)._3 === 0L)
    // docs 2 and 3 lose exactly the 46 shared chars, splice is clean
    assert(got(2L)._2 === "s" * 10 + "t" * 10 && got(2L)._3 === 46L)
    assert(got(3L)._2 === "u" * 20 && got(3L)._3 === 46L)
    assert(got(4L)._2 === "v" * 65 && got(4L)._3 === 0L)
    // fixpoint: re-scanning the scrubbed corpus finds zero dup spans —
    // exactly one copy of the duplicated region survives corpus-wide
    val rescan = Dedup.duplicateSpans(
      Dedup.scrubbedSpanDocs(df, windowLen = 40)
        .select(col("doc_id"), col("scrubbed").as("text")),
      windowLen = 40)
    assert(rescan.count() === 0)
  }

  test("ivfpq lifecycle: composed ingest/trigger/rebuild/recall, one plan") {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val g = Similarity.ivfPqLifecycleGate(spark, dir).head()
    // counts and policy arithmetic are the reindex gate's, re-derived
    assert(g.getAs[Long]("n_base") === math.max(1L, n / 8))
    assert(g.getAs[Long]("n_inc") === n - math.max(1L, n / 8))
    assert(g.getAs[Long]("n_now") === n)
    assert(g.getAs[Int]("stale_cells") ===
      Similarity.scaledCells(math.max(1L, n / 8)))
    assert(g.getAs[Int]("fresh_cells") === Similarity.scaledCells(n))
    val expectRebuild = if (Similarity.scaledCells(n) >=
      2 * Similarity.scaledCells(math.max(1L, n / 8))) 1 else 0
    assert(g.getAs[Int]("rebuild") === expectRebuild)
    // the composition flags: the real append path conserved every row
    // into trained cells, and the policy-deployed snapshot (fresh
    // rebuild when tripped, appended stale index when not) still
    // delivers full-k results above the recall floor
    assert(g.getAs[Int]("append_complete") === 1)
    assert(g.getAs[Int]("cells_in_range") === 1)
    assert(g.getAs[Int]("full_k") === 1)
    assert(g.getAs[Int]("recall_ok") === 1)
  }

  test("vector forget: no deleted id survives anywhere, survivors intact") {
    val emb = Tables.embeddings(spark, dir)
    val del = emb.filter(col("vec_id") % 97 === 0).select("vec_id")
    val g = Similarity.vectorForgetGate(spark, dir).head()
    assert(g.getAs[Long]("n_emb") === emb.count())
    assert(g.getAs[Long]("n_del") === del.count())
    assert(g.getAs[Int]("index_clean") === 1)
    assert(g.getAs[Int]("index_count_ok") === 1)
    assert(g.getAs[Int]("graph_clean") === 1)
    assert(g.getAs[Int]("graph_full_k") === 1)
    assert(g.getAs[Int]("recall_ok") === 1)
    // direct re-check of the repaired graph: zero deleted endpoints,
    // and an AFFECTED node (one that listed a deleted neighbor in the
    // pre-forget graph) still holds a full k-list after repair
    val pre = Similarity.knnGraphNnDescent(emb, 10)
    val affected = pre
      .join(del.select(col("vec_id").as("nn_id")), Seq("nn_id"), "left_semi")
      .join(del.select(col("vec_id").as("query_id")), Seq("query_id"),
        "left_anti")
      .select("query_id").distinct()
    assert(affected.count() > 0, "fixture lost its affected nodes")
    val post = Similarity.knnGraphForget(emb, del, 10)
    val affLists = post.join(affected, Seq("query_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("c"))
    assert(affLists.filter(col("c") =!= 10).count() === 0L,
      "an affected node's list was not repaired to full k")
    // forgetting is idempotent on the index: a second anti-join of the
    // same doomed set removes nothing
    val (_, _, index) = Similarity.ivfPqIndex(emb,
      Similarity.scaledCells(emb.count()))
    val once = Similarity.ivfPqForget(index, del)
    assert(Similarity.ivfPqForget(once, del).count() === once.count())
  }

  test("graph lifecycle: append then forget on ONE living artifact") {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val g = Similarity.graphLifecycleGate(spark, dir).head()
    assert(g.getAs[Long]("n_base") === n - n / 8)
    assert(g.getAs[Long]("n_inc") === n / 8)
    assert(g.getAs[Long]("n_del") ===
      emb.filter(col("vec_id") % 97 === 0).count())
    assert(g.getAs[Int]("graph_clean") === 1)
    assert(g.getAs[Int]("full_k") === 1)
    assert(g.getAs[Int]("recall_ok") === 1)
  }

  test("stored index round trip: files reproduce the artifact, probe equal") {
    val gate = {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-ivfstoreSpec").toString
      Similarity.ivfPqStoreGate(spark, dir, tmp).head()
    }
    assert(gate.getAs[Long]("n_emb") === Tables.embeddings(spark, dir).count())
    assert(gate.getAs[Int]("store_complete") === 1)
    assert(gate.getAs[Int]("store_match") === 1)
    assert(gate.getAs[Int]("probe_match") === 1)
  }

  test("embedding drift: conserved occupancies; a planted arrival shift shows") {
    // corpus gate on the real table: all invariants green
    val g = Similarity.embeddingDriftGate(spark, dir).head()
    val n = Tables.embeddings(spark, dir).count()
    assert(g.getAs[Long]("n_now") === n)
    assert(g.getAs[Long]("n_base") === n - n / 8)
    Seq("base_conserved", "now_conserved", "shares_ok", "cells_ok",
      "kl_ok").foreach(f => assert(g.getAs[Int](f) === 1, f))
    // planted shift: 350 spread base vectors, then 50 arrivals all on
    // ONE far direction — the monitor must show a large occupancy
    // delta in some cell (that is its whole job)
    val tmp = java.nio.file.Files.createTempDirectory("graft-edrift").toString
    val rows = (0 until 350).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 13 + j * 7).toFloat), 0)
    } ++ (350 until 400).map { i =>
      (i.toLong, Array.fill(8)(-5f), 0)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$tmp/embeddings.parquet")
    val gate2 = Similarity.embeddingDriftGate(spark, tmp).head()
    Seq("base_conserved", "now_conserved", "shares_ok", "cells_ok",
      "kl_ok").foreach(f => assert(gate2.getAs[Int](f) === 1, f))
    val maxDelta = Similarity.embeddingDriftCells(spark, tmp)
      .agg(max(abs(col("delta_millionths")))).head().getLong(0)
    assert(maxDelta >= 50000L,
      s"50/400 concentrated arrivals moved max |delta| only $maxDelta")
  }

  test("rebuild decision: KL margins sit an order from the threshold") {
    val emb = Tables.embeddings(spark, dir)
    // steady: KL is IDENTICALLY zero (every floored term cancels)
    val (c0, d0, r0, kl0) = Similarity.ivfPqReindexDecision(emb, emb)
    assert((c0, d0, r0) === ((0, 0, 0)))
    assert(kl0 === 0L)
    // same-distribution growth (the 7/8-prefix base): drift stays far
    // BELOW threshold — growth alone must not trip the drift arm
    val n = emb.count()
    val base = emb.orderBy("vec_id").limit((n - n / 8).toInt)
    val (_, dg, _, klG) = Similarity.ivfPqReindexDecision(base, emb)
    assert(dg === 0, s"healthy growth measured KL=$klG millionths")
    assert(klG < Similarity.DriftKlThresholdMillionths / 5,
      s"healthy growth measured KL=$klG millionths")
    // encoder shift (abs-collapse): counts unchanged -> count arm off;
    // drift lands far ABOVE threshold
    val shifted = emb.select(col("vec_id"),
      transform(col("embedding"), x => abs(x)).as("embedding"))
    val (cs, ds, rs, klS) = Similarity.ivfPqReindexDecision(emb, shifted)
    assert((cs, ds, rs) === ((0, 1, 1)))
    assert(klS > 2 * Similarity.DriftKlThresholdMillionths,
      s"encoder shift measured KL=$klS millionths")
    info(s"calibration: steady=$kl0, growth=$klG, shift=$klS millionths")
  }

  test("cell compaction: file shape collapses, content and probe identical") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-compactSpec").toString
    val gate = Similarity.ivfPqCompactGate(spark, dir, tmp).head()
    assert(gate.getAs[Long]("n_emb") === Tables.embeddings(spark, dir).count())
    assert(gate.getAs[Int]("cells") ===
      Similarity.scaledCells(gate.getAs[Long]("n_emb")))
    assert(gate.getAs[Int]("files_reduced") === 1)
    assert(gate.getAs[Int]("content_match") === 1)
    assert(gate.getAs[Int]("probe_match") === 1)
    // the episode really created the small-files problem: the appended
    // store holds >= 4 files per occupied cell dir (one per ingest),
    // the compacted store exactly one
    def files(p: String) = {
      val d = new java.io.File(p)
      d.listFiles().filter(_.getName.startsWith("cell=")).map { cd =>
        cd.listFiles().count(_.getName.startsWith("part-"))
      }.toSeq
    }
    val before = files(s"$tmp/appended")
    val after = files(s"$tmp/compacted")
    assert(before.nonEmpty && before.sum > before.length &&
      before.max >= 4,
      s"append episodes left no multi-file cells: $before")
    assert(after.forall(_ === 1), s"compaction left multi-file cells: $after")
    // the bench-sized arm (the GATED invocation): same flags, episode
    // shrunk to 2 slices over ceil(sqrt(N)/2) cells capped at the
    // policy count — the arithmetic the oracle recomputes
    val tmpB = java.nio.file.Files
      .createTempDirectory("graft-compactSpecB").toString
    val b = Similarity.ivfPqCompactGate(spark, dir, tmpB,
      benchSized = true).head()
    val nB = b.getAs[Long]("n_emb")
    val expCells = math.max(1, math.min(Similarity.scaledCells(nB),
      math.ceil(math.sqrt(math.max(nB, 1L).toDouble) / 2.0).toInt))
    assert(b.getAs[Int]("cells") === expCells)
    assert(b.getAs[Int]("files_reduced") === 1)
    assert(b.getAs[Int]("content_match") === 1)
    assert(b.getAs[Int]("probe_match") === 1)
  }

  test("filtered ANN probe: subset of the filter, full k, gated recall") {
    val emb = Tables.embeddings(spark, dir)
    val g = Similarity.knnIvfPqFilteredGate(spark, dir).head()
    assert(g.getAs[Long]("n_emb") === emb.count())
    assert(g.getAs[Long]("n_allowed") > 0L)
    assert(g.getAs[Long]("n_queries") === 10L)
    assert(g.getAs[Int]("subset_ok") === 1)
    assert(g.getAs[Int]("full_k") === 1)
    assert(g.getAs[Int]("recall_ok") === 1)
    // a DISJOINT filter (ids that exist but exclude every query's true
    // neighborhood) still returns only allowed ids — the subset
    // contract is structural, not a recall accident
    val allowed = emb.filter(col("vec_id") >= 300).select("vec_id")
    val out = Similarity.knnIvfPqFiltered(emb, allowed,
      emb.filter(col("vec_id") < 10), 5)
    assert(out.filter(col("nn_id") < 300).count() === 0L)
    assert(out.count() > 0L)
  }
}
