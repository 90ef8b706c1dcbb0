package graft

import graft.operators.{Checkpoints, Dedup, Graph}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reliable-checkpoint knob (spark.graft.checkpointDir): iterative
  * operators must produce BYTE-IDENTICAL results whether each round
  * lands in executor-local blocks (default) or on the shared filesystem
  * (cluster deployment, executor-loss tolerant). The knob is a runtime
  * conf, so the same operator code serves both — this spec runs the
  * three iterative families both ways and diffs exactly.
  */
class CheckpointSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def withReliableDir[A](body: => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Checkpoints.DirKey, dir)
    try body
    finally spark.conf.unset(Checkpoints.DirKey)
  }

  // a 2-component graph with a chain (forces >1 closure round)
  private lazy val pairs = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
    (10L, 11L), (11L, 12L)).toDF("id_a", "id_b")

  test("connected components (star) identical under reliable checkpoint") {
    val local = Dedup.connectedComponentsStar(pairs)
      .as[(Long, Long)].collect().sorted
    val reliable = withReliableDir {
      Dedup.connectedComponentsStar(pairs).as[(Long, Long)].collect().sorted
    }
    assert(reliable === local)
    assert(local.map(_._2).distinct.sorted === Array(1L, 10L))
  }

  test("pageRank identical under reliable checkpoint") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (3L, 2L),
      (1L, 3L)).toDF("src", "dst")
    val local = Graph.pageRank(edges, 5).as[(Long, Long)].collect().sorted
    val reliable = withReliableDir {
      Graph.pageRank(edges, 5).as[(Long, Long)].collect().sorted
    }
    assert(reliable === local)
  }

  test("superseded reliable rounds are reclaimed; the live round survives") {
    // the chain graph forces multiple star rounds; without dropRound the
    // dir would hold one rdd-N snapshot per round forever (the 100 TB
    // leak the r9 review flagged) — after the run only the final round
    // may remain
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt3").toString
    spark.conf.set(Checkpoints.DirKey, dir)
    try {
      val out = Dedup.connectedComponentsStar(pairs)
        .as[(Long, Long)].collect().sorted
      assert(out.nonEmpty)
      val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
      assert(rddDirs >= 1, "the final round's files must survive")
      assert(rddDirs <= 2, s"stale checkpoint rounds not reclaimed: $rddDirs")
    } finally spark.conf.unset(Checkpoints.DirKey)
  }

  private def chain(from: Long, to: Long) =
    (from until to).map(i => (i, i + 1)).toDF("id_a", "id_b")

  private def star(pairs: org.apache.spark.sql.DataFrame, maxIter: Int = 50) =
    Dedup.connectedComponentsStar(pairs, maxIter).as[(Long, Long)]
      .collect().sorted

  /** Fewest rounds a cold (store-less) star closure needs on `pairs`:
    * a resumed run that converges on FEWER rounds than this can only
    * have seeded from a snapshot. */
  private def coldRounds(pairs: org.apache.spark.sql.DataFrame): Int =
    (1 to 50).find(m => scala.util.Try(star(pairs, m)).isSuccess).get

  /** The store's per-graph components_star namespaces under `dir`. */
  private def starStores(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten
      .filter(_.startsWith("components_star")).sorted

  test("kill-resume: a restarted componentsStar run resumes from round files") {
    // The driver-restart story (VERDICT r9 #5): under
    // spark.graft.resumeDir every round snapshots to parquet; a run
    // killed mid-iteration leaves the last complete round on disk, and
    // the next invocation seeds from it instead of recomputing.
    // A 16-node chain needs several star rounds, so maxIter=1 aborts
    // mid-run — the require throw stands in for the kill (same effect:
    // the loop dies after round 1 with round files on disk).
    val g = chain(1L, 16L)
    val expected = star(g)
    val cold = coldRounds(g)
    assert(cold > 2, s"the chain must need several rounds, took $cold")
    val dir = java.nio.file.Files.createTempDirectory("graft-resume").toString
    spark.conf.set(Checkpoints.ResumeKey, dir)
    try {
      intercept[IllegalArgumentException] { star(g, maxIter = 1) }
      assert(starStores(dir).size === 1,
        "the killed run left no round snapshots")
      // one round is already on disk, so the resumed run converges on a
      // budget a cold run cannot: the round-1 files seeded it
      assert(star(g, maxIter = cold - 1) === expected,
        "resumed run did not reach the killed run's fixpoint")
      // success clears the store — a stale fixpoint must never seed a
      // later run over different input
      assert(starStores(dir).isEmpty,
        "resume store not cleared after successful convergence")
    } finally spark.conf.unset(Checkpoints.ResumeKey)
  }

  test("kill-resume: concurrent componentsStar closures keep separate stores") {
    // two closures over different graphs inside Audit.parallel (the
    // semantic-dedup gates' shape), both killed after round 1: each
    // must leave its OWN snapshots, and each must resume from its own
    val (ga, gb) = (chain(1L, 16L), chain(101L, 121L))
    val (expA, expB) = (star(ga), star(gb))
    val (coldA, coldB) = (coldRounds(ga), coldRounds(gb))
    val dir = java.nio.file.Files.createTempDirectory("graft-resumePar").toString
    spark.conf.set(Checkpoints.ResumeKey, dir)
    try {
      val (ka, kb) = graft.gates.Audit.parallel(
        scala.util.Try(star(ga, maxIter = 1)),
        scala.util.Try(star(gb, maxIter = 1)))
      assert(ka.isFailure && kb.isFailure, "both closures must be killed")
      assert(starStores(dir).size === 2,
        s"concurrent closures shared a store: ${starStores(dir)}")
      val (ra, rb) = graft.gates.Audit.parallel(
        star(ga, maxIter = coldA - 1), star(gb, maxIter = coldB - 1))
      assert(ra === expA && rb === expB)
      assert(starStores(dir).isEmpty)
      // the SAME graph twice at once (the dedup gates' tiers at full
      // recall): one closure owns the store, the other runs store-less
      val (sa, sb) = graft.gates.Audit.parallel(star(ga), star(ga))
      assert(sa === expA && sb === expA)
      assert(starStores(dir).isEmpty)
    } finally spark.conf.unset(Checkpoints.ResumeKey)
  }

  test("kill-resume: a foreign graph's componentsStar round is NOT resumed") {
    // a restart that runs a DIFFERENT graph first must compute that
    // graph's own components, never seed from the killed graph's round
    val (ga, gb) = (chain(1L, 16L), chain(101L, 121L))
    val expB = star(gb)
    val dir = java.nio.file.Files.createTempDirectory("graft-resumeFor").toString
    spark.conf.set(Checkpoints.ResumeKey, dir)
    try {
      intercept[IllegalArgumentException] { star(ga, maxIter = 1) }
      val killed = starStores(dir)
      assert(killed.size === 1)
      assert(star(gb) === expB,
        "the foreign graph's snapshot seeded this closure")
      // the killed graph's rounds are untouched (its own restart may
      // still need them)
      assert(starStores(dir) === killed, "another graph's store was cleared")
    } finally spark.conf.unset(Checkpoints.ResumeKey)
  }

  /** The resume store a run reads: the op plus the engine's key. */
  private def pageRankStore(edges: org.apache.spark.sql.DataFrame) =
    Checkpoints.storeName("pagerank", Graph.pageRankKey(edges))

  private def nndescentStore(emb: org.apache.spark.sql.DataFrame,
                             k: Int = 10) =
    Checkpoints.storeName("nndescent",
      graft.operators.Similarity.nndescentKeyFor(emb, k = k))

  private def withResumeDir[A](name: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(name).toString
    spark.conf.set(Checkpoints.ResumeKey, dir)
    try body(dir)
    finally spark.conf.unset(Checkpoints.ResumeKey)
  }

  private def exists(dir: String, store: String) =
    java.nio.file.Files.exists(java.nio.file.Paths.get(dir, store))

  /** Two small strongly connected graphs on disjoint nodes. */
  private lazy val prA = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
  private lazy val prB = Seq((11L, 12L), (12L, 11L), (12L, 13L), (13L, 11L))
    .toDF("src", "dst")

  /** A fabricated round: every node ranked `pr`, which only the store
    * could have produced. */
  private def sentinel(edges: org.apache.spark.sql.DataFrame, pr: Long) =
    edges.select($"src".as("node")).distinct()
      .select($"node", lit(1L).as("outdeg"), lit(pr).as("pr"))

  private def ranks(edges: org.apache.spark.sql.DataFrame) =
    Graph.pageRank(edges, 5).as[(Long, Long)].collect().sorted

  test("kill-resume: a foreign graph's pageRank round is NOT resumed") {
    val expB = ranks(prB)
    withResumeDir("graft-resumePRf") { dir =>
      Checkpoints.saveRound(sentinel(prA, 7L), pageRankStore(prA), 5)
      assert(ranks(prB) === expB,
        "another graph's rank round seeded this run")
      // the other graph's round is untouched (its own restart may
      // still need it)
      assert(exists(dir, pageRankStore(prA)),
        "another graph's store was cleared")
    }
  }

  test("kill-resume: concurrent pageRank calls keep separate stores") {
    val (expA, expB) = (ranks(prA), ranks(prB))
    withResumeDir("graft-resumePRpar") { dir =>
      // each graph's run resumes from its own store, inside
      // Audit.parallel (the gates' shape)
      Checkpoints.saveRound(sentinel(prA, 7L), pageRankStore(prA), 5)
      Checkpoints.saveRound(sentinel(prB, 9L), pageRankStore(prB), 5)
      val (ra, rb) = graft.gates.Audit.parallel(ranks(prA), ranks(prB))
      assert(ra.map(_._2).distinct.toSeq === Seq(7L) &&
        rb.map(_._2).distinct.toSeq === Seq(9L),
        s"the runs shared a store: ${ra.toSeq} ${rb.toSeq}")
      assert(!exists(dir, pageRankStore(prA)) &&
        !exists(dir, pageRankStore(prB)))
      // the SAME graph twice at once: one run owns the store and
      // resumes; the other runs store-less and computes the ranks
      Checkpoints.saveRound(sentinel(prA, 7L), pageRankStore(prA), 5)
      val (sa, sb) = graft.gates.Audit.parallel(ranks(prA), ranks(prA))
      assert(Seq(sa, sb).count(_.forall(_._2 == 7L)) === 1 &&
        Seq(sa, sb).count(_.sameElements(expA)) === 1,
        s"not exactly one resumed run: ${sa.toSeq} ${sb.toSeq}")
      assert(!exists(dir, pageRankStore(prA)))
    }
  }

  test("kill-resume: a resumed round beyond iters is refused") {
    // a stored round 6 for a 5-round run would return more sweeps than
    // asked for: both fixed-round engines refuse it and keep the store
    withResumeDir("graft-resumeBeyond") { dir =>
      val store = pageRankStore(prA)
      Checkpoints.saveRound(sentinel(prA, 7L), store, 6)
      val e = intercept[IllegalArgumentException] { ranks(prA) }
      assert(e.getMessage.contains(s"$dir/$store") &&
        e.getMessage.contains("round 6"), e.getMessage)
      assert(exists(dir, s"$store/round-6"), "refused store was touched")

      val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      val op = nndescentStore(emb)
      Checkpoints.saveRound(Seq((7L, 8L, -9.0d, 1))
        .toDF("query_id", "nn_id", "sim", "rn"), op, 6)
      val e2 = intercept[IllegalArgumentException] {
        graft.operators.Similarity.knnGraphNnDescent(emb, 10).collect()
      }
      assert(e2.getMessage.contains(s"$dir/$op") &&
        e2.getMessage.contains("round 6"), e2.getMessage)
      assert(exists(dir, s"$op/round-6"), "refused store was touched")
    }
  }

  test("kill-resume: pageRank resumes from a planted rank round") {
    // pageRank has no abort path to simulate a kill with, so exercise
    // the primitive directly: plant a fabricated round-<iters> rank
    // table in the store — the resumed run's sweep counter starts at
    // iters, the loop never executes, and the planted ranks ARE the
    // result, which only the store could have produced.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val dir = java.nio.file.Files.createTempDirectory("graft-resumePR").toString
    spark.conf.set(Checkpoints.ResumeKey, dir)
    try {
      val planted = Seq((1L, 1L, 111L), (2L, 1L, 222L), (3L, 1L, 333L))
        .toDF("node", "outdeg", "pr")
      // the store is namespaced per (graph, params): plant under the
      // exact store this graph's run reads
      val store = pageRankStore(edges)
      Checkpoints.saveRound(planted, store, 5)
      val out = Graph.pageRank(edges, 5).as[(Long, Long)].collect().sorted
      assert(out === Array((1L, 111L), (2L, 222L), (3L, 333L)))
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, store)),
        "store not cleared after completion")
    } finally spark.conf.unset(Checkpoints.ResumeKey)
  }

  test("kill-resume: nn-descent resumes from a planted graph round") {
    // The descent's round state is the k-NN graph itself; plant a
    // fabricated final round (sim = -9 is impossible for a cosine, so
    // only the store could have produced it) at round = iters — the
    // resumed run's descent loop never executes and the planted graph,
    // truncated to k, IS the result.
    val dir = java.nio.file.Files.createTempDirectory("graft-resumeNND").toString
    spark.conf.set(Checkpoints.ResumeKey, dir)
    try {
      val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      val planted = Seq((7L, 8L, -9.0d, 1), (7L, 9L, -9.0d, 11))
        .toDF("query_id", "nn_id", "sim", "rn")
      // the store is namespaced per (corpus, params) build — plant
      // under the exact op name the default-parameter build reads
      val op = nndescentStore(emb)
      Checkpoints.saveRound(planted, op, 5)
      val out = graft.operators.Similarity.knnGraphNnDescent(emb, 10)
        .as[(Long, Long, Double, Int)].collect()
      // the rn=1 sentinel survives the k-truncation; the rn=11 row (in
      // the over-build margin beyond k) is cut by it
      assert(out.toSeq === Seq((7L, 8L, -9.0d, 1)),
        s"planted graph not replayed from the store: ${out.take(3).toSeq}")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, op)),
        "store not cleared after completion")
    } finally spark.conf.unset(Checkpoints.ResumeKey)
  }

  test("kill-resume: a foreign build's nn-descent round is NOT resumed") {
    // r13 ADVICE: the store used ONE fixed op name, so a restart that
    // ran a differently-parameterized graph query first silently
    // resumed from the other build's rounds. With per-build
    // namespacing, a round planted under ANOTHER build's op (here a
    // k=7 build — different over-build width kb) must be invisible to
    // the default k=10 build: no sentinel row may survive.
    val dir = java.nio.file.Files.createTempDirectory("graft-resumeNNDf").toString
    spark.conf.set(Checkpoints.ResumeKey, dir)
    try {
      val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      val planted = Seq((7L, 8L, -9.0d, 1))
        .toDF("query_id", "nn_id", "sim", "rn")
      val foreignOp = nndescentStore(emb, k = 7)
      Checkpoints.saveRound(planted, foreignOp, 5)
      val out = graft.operators.Similarity.knnGraphNnDescent(emb, 10)
        .filter($"sim" < -1.0).count()
      assert(out === 0L,
        "a round from a differently-parameterized build was resumed")
      // the foreign build's rounds are untouched (its own restart may
      // still need them)
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, foreignOp)),
        "another build's store was cleared")
    } finally spark.conf.unset(Checkpoints.ResumeKey)
  }

  test("a conf change re-points the context checkpoint dir") {
    val d1 = java.nio.file.Files.createTempDirectory("graft-ckptA").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft-ckptB").toString
    def hasRdd(d: String) = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      .filter(p => p.getFileName.toString.startsWith("rdd-")).count() > 0
    spark.conf.set(Checkpoints.DirKey, d1)
    try {
      Dedup.connectedComponentsStar(pairs).collect()
      assert(hasRdd(d1), "first dir never received rounds")
      spark.conf.set(Checkpoints.DirKey, d2)
      Dedup.connectedComponentsStar(pairs).collect()
      assert(hasRdd(d2),
        "conf change ignored — rounds still land in the stale dir")
    } finally spark.conf.unset(Checkpoints.DirKey)
  }

  test("reliable mode actually writes round files to a checkpoint dir") {
    withReliableDir {
      Dedup.connectedComponentsStar(pairs).collect()
      // inspect the dir the context ACTUALLY used (materialize
      // re-points it to this test's conf value — pinned by the
      // re-point test above — and appends a per-context UUID subdir)
      val ctxDir = spark.sparkContext.getCheckpointDir
      assert(ctxDir.isDefined, "reliable run never set a checkpoint dir")
      val files = java.nio.file.Files
        .walk(java.nio.file.Paths.get(new java.net.URI(ctxDir.get).getPath))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, s"no reliable checkpoint files under $ctxDir")
    }
  }
}
