package graft

import graft.operators.{Dedup, Graph, Similarity}
import graft.sources.Tables
import org.scalatest.funsuite.AnyFunSuite

/** Job budgets of the three round engines in the default mode (no
  * checkpoint or resume knob), counted by a SparkListener over running
  * and collecting each result. Each round is one materialization (its
  * AQE stage jobs), and the star closure adds one fixpoint audit per
  * round; the round driver adds no action of its own, so a driver step
  * that does (a lookup, a count, a re-materialization of round 0)
  * breaks these. */
class RoundJobBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def jobsOf[A](body: => A): (A, Int) = JobBudget.jobsOf(spark)(body)

  test("pageRank: a 6-edge graph at iters = 5 runs <= 28 jobs") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (3L, 2L),
      (1L, 3L)).toDF("src", "dst")
    val (out, n) = jobsOf(Graph.pageRank(edges, 5).collect())
    assert(out.length === 3)
    assert(n <= 28, s"pageRank ran $n jobs")
  }

  test("star closure: chain(1, 16) runs <= 51 jobs") {
    val pairs = (1L until 16L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (out, n) = jobsOf(Dedup.connectedComponentsStar(pairs).collect())
    assert(out.length === 16 && out.forall(_.getLong(1) == 1L))
    assert(n <= 51, s"star closure ran $n jobs")
  }

  test("a cold knnGraphNnDescent at sf0.001 runs <= 51 jobs") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    Similarity.clearNnGraphCacheForTest()
    val (out, n) = jobsOf(Similarity.knnGraphNnDescent(emb, 10).collect())
    assert(out.length === 5000)
    assert(n <= 51, s"cold knnGraphNnDescent ran $n jobs")
  }
}
