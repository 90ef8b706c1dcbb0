package graft

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Job budgets of the exact-overlap tiers, counted by a SparkListener
  * over building and collecting each result: the postings checkpoint,
  * the one plan-choice aggregation and the chosen pair plan's AQE
  * stages. An extra action in the core (a second statistics pass, a
  * re-checkpoint) breaks these. */
class OverlapJobBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Jobs of building AND collecting a result (the core's checkpoint
    * and statistics run while the frame is built). */
  private def jobsOf(build: => DataFrame): ((DataFrame, Array[Row]), Int) =
    JobBudget.jobsOf(spark) { val df = build; (df, df.collect()) }

  /** 200 docs of 30 tokens over a `pool`-word vocabulary plus near
    * copies (first token dropped) of the first 20: a 40-word pool has
    * at most 1,600 distinct bigrams (the bitmap tier), a 3,000-word pool
    * more than 4,096 (the postings tier). */
  private def corpus(pool: Int): DataFrame = {
    val rnd = new java.util.Random(7)
    val base = (0 until 200).map(i => (i.toLong,
      Seq.fill(30)(s"w${rnd.nextInt(pool)}").mkString(" ")))
    val copies = base.take(20).map { case (i, t) =>
      (i + Dedup.DupIdOffset, t.split(" ").drop(1).mkString(" ")) }
    (base ++ copies).toDF("doc_id", "text")
  }
  private def dense = corpus(40)
  private def sparse = corpus(3000)

  /** Whether the result's plan runs the bitmap pair scan. */
  private def bitmapTier(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("bitmapandcount")

  test("all-pairs tiers: <= 11 jobs dense (bitmap), <= 9 sparse (postings)") {
    for ((c, bitmap, budget) <- Seq((dense, true, 11), (sparse, false, 9));
         (name, pairs) <- Seq(
           "jaccard" -> (() => Dedup.jaccardPairsAuto(c, 0.5)),
           "containment" -> (() => Dedup.containmentPairsAuto(c, 0.6)))) {
      val ((df, rows), n) = jobsOf(pairs())
      assert(rows.nonEmpty)
      assert(bitmapTier(df) === bitmap, s"$name picked the wrong tier")
      assert(n <= budget, s"$name (bitmap = $bitmap) ran $n jobs")
    }
  }

  test("candidate verifier: <= 7 jobs") {
    val cand = (0L until 40L)
      .flatMap(i => Seq((i, i + Dedup.DupIdOffset), (i, i + 1)))
      .toDF("id_a", "id_b")
    val ((_, rows), n) = jobsOf(Dedup.jaccardVerifyPairs(dense, cand, 0.5))
    assert(rows.nonEmpty)
    assert(n <= 7, s"jaccardVerifyPairs ran $n jobs")
  }
}
