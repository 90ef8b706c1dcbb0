package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Job budgets of the ADC probes, counted by a SparkListener on a
  * 300×64 corpus in 3 materialized partitions, 10 queries, k = 5, cold
  * registries. `knnPq` is the IVFADC probe with every cell probed: a
  * fresh raw index (key aggregate 2 jobs, training fetch, index
  * scratch), the probe frame's scratch and the plan's jobs. The probe
  * core's re-rank side reads each query's vector from the query frame,
  * so no shuffle stage reduces the probe rows to one per query. In
  * `knnRecallGates` the pq tier's own encode checkpoint is gone (it
  * reads the ivfpq tier's index). Measured with that per-query shuffle:
  * gate 46, cold knnPq 12, knnPq on a built index 10; without it: 41,
  * 11 and 9. */
class ProbeJobBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def jobsOf[A](body: => A): (A, Int) = JobBudget.jobsOf(spark)(body)

  /** Built (and its materializing jobs run) before any count starts. */
  private lazy val emb: DataFrame = {
    val rnd = new java.util.Random(21)
    val df = (0 until 300).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").repartition(3).localCheckpoint(true)
    df.count()
    df
  }
  private def queries = emb.filter(col("vec_id") < 10)

  test("a cold knnRecallGates runs <= 41 jobs") {
    val q = queries
    Similarity.clearModelCachesForTest()
    val (rows, n) = jobsOf(Similarity.knnRecallGates(emb, q, 5).collect())
    assert(rows.length === 6)
    assert(n <= 41, s"cold knnRecallGates ran $n jobs")
  }

  test("knnPq: cold <= 11 jobs; on the index knnIvfPq built, no encode") {
    val q = queries
    Similarity.clearModelCachesForTest()
    val (cold, nCold) = jobsOf(Similarity.knnPq(emb, q, 5).collect())
    assert(cold.length === 50)
    assert(nCold <= 11, s"cold knnPq ran $nCold jobs")
    // the same raw 16-cell index serves both probes: the second call
    // pays the key aggregate, the probe scratch and its plan only
    Similarity.clearModelCachesForTest()
    Similarity.knnIvfPq(emb, q, 5).collect()
    val (_, nHit) = jobsOf(Similarity.knnPq(emb, q, 5).collect())
    assert(nHit <= 9, s"knnPq on a built index ran $nHit jobs")
  }
}
