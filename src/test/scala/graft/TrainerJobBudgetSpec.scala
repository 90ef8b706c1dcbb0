package graft

import graft.operators.{Similarity, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Job budgets of the codebook and tokenizer trainers, counted by a
  * SparkListener. Codebook training runs on the driver over one fetch
  * of the corpus, so a fresh `ivfPqIndex` is the key aggregate (2 jobs
  * under AQE), the training fetch and the index scratch; a registry hit
  * is the key aggregate alone; the training-contract queries are one
  * seed job plus one job per iteration. The BPE and unigram trainers
  * run on the driver over one fetch of the (word, cnt) vocabulary,
  * whatever the number of merge or EM steps: a cold `bpeMergeGate` is
  * the documents schema read plus that aggregate (2 jobs under AQE),
  * and a cold `unigramGate` adds its own corpus character-inventory
  * aggregate (one more schema read and 2 jobs). Both trainers share one
  * vocabulary fetch per directory, so a cold `tokenizerFertilityGate`,
  * which trains both, fetches it once (19 jobs when each trainer
  * fetched its own). A Lloyd round, merge step or EM step that goes
  * back to being a Spark job breaks these. */
class TrainerJobBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def jobsOf[A](body: => A): (A, Int) = JobBudget.jobsOf(spark)(body)

  /** A 300×64 corpus in 3 materialized partitions (the materializing
    * job runs before any count starts). */
  private def corpus(seed: Long): DataFrame = {
    val rnd = new java.util.Random(seed)
    val df = (0 until 300).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").repartition(3).localCheckpoint(true)
    df.count()
    df
  }

  test("ivfPqIndex: a fresh corpus in <= 4 jobs, a registry hit in <= 2") {
    Similarity.clearModelCachesForTest()
    val emb = corpus(11)
    for (residual <- Seq(false, true)) {
      val (fresh, nFresh) =
        jobsOf(Similarity.ivfPqIndex(emb, 9, residual = residual))
      assert(fresh._1.nonEmpty && fresh._2.nonEmpty)
      assert(nFresh <= 4, s"fresh build (residual = $residual) ran $nFresh jobs")
      val (_, nHit) = jobsOf(Similarity.ivfPqIndex(emb, 9, residual = residual))
      assert(nHit <= 2, s"registry hit (residual = $residual) ran $nHit jobs")
    }
  }

  /** sf0.001's documents in a fresh directory: the tokenizer trainers'
    * per-JVM memo caches are keyed by directory, so each gate trains
    * cold. */
  private def freshDocs(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("a cold bpeMergeGate runs <= 3 jobs") {
    val dir = freshDocs()
    val (gate, n) = jobsOf(TextAnalysis.bpeMergeGate(spark, dir).collect())
    assert(gate.length === 1 && gate(0).getInt(3) === 20)
    assert(n <= 3, s"cold bpeMergeGate ran $n jobs")
  }

  test("a cold unigramGate runs <= 6 jobs") {
    val dir = freshDocs()
    val (gate, n) = jobsOf(TextAnalysis.unigramGate(spark, dir).collect())
    assert(gate.length === 1 && gate(0).getInt(2) === 1)
    assert(n <= 6, s"cold unigramGate ran $n jobs")
  }

  test("a cold tokenizerFertilityGate runs <= 16 jobs") {
    val dir = freshDocs()
    val (gate, n) =
      jobsOf(TextAnalysis.tokenizerFertilityGate(spark, dir).collect())
    assert(gate.nonEmpty)
    assert(n <= 16, s"cold tokenizerFertilityGate ran $n jobs")
  }

  test("training-stats queries run <= iters + 1 jobs") {
    val emb = corpus(12)
    val (km, nKm) = jobsOf(Similarity.kmeansTrainStats(emb, 8, iters = 3))
    assert(km.count() === 3)
    assert(nKm <= 4, s"kmeansTrainStats(iters = 3) ran $nKm jobs")
    val (pq, nPq) = jobsOf(Similarity.pqTrainStats(emb))
    assert(pq.count() === Similarity.PqIters)
    assert(nPq <= Similarity.PqIters + 1, s"pqTrainStats ran $nPq jobs")
  }
}
