package graft

import graft.gates.Audit
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared gate audit kernel: the fingerprint is a multiset property
  * (row order and partitioning never move it), the folds count exactly
  * over unique key sets, and the recall floor passes vacuously on an
  * empty ground truth. */
class AuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val rows = (1L to 50L).map(i => (i, i * 7 % 13, s"r$i"))

  test("fingerprint does not depend on row order or partitioning") {
    val cols = Seq("a", "b", "c")
    val fwd = Audit.fingerprint(rows.toDF("a", "b", "c"), cols)
    val rev = Audit.fingerprint(rows.reverse.toDF("a", "b", "c")
      .repartition(7), cols)
    assert(fwd === rev)
    assert(fwd._1 === 50L)
    // content-sensitive: one changed value moves the hash sum
    val edited = rows.updated(3, (4L, 0L, "edited")).toDF("a", "b", "c")
    assert(Audit.fingerprint(edited, cols)._2 !== fwd._2)
  }

  test("an empty frame fingerprints to (0, \"0\")") {
    val empty = rows.toDF("a", "b", "c").filter(lit(false))
    assert(Audit.fingerprint(empty, Seq("a", "b", "c")) === ((0L, "0")))
  }

  test("fingerprintRow's extras ride the same aggregate") {
    val df = rows.toDF("a", "b", "c")
    val r = Audit.fingerprintRow(df, Seq("a", "b", "c"),
      sum(col("a")), countDistinct(col("b")))
    assert(Audit.unpack(r) === Audit.fingerprint(df, Seq("a", "b", "c")))
    assert(r.getLong(2) === (1L to 50L).sum)
    assert(r.getLong(3) === rows.map(_._2).distinct.size.toLong)
  }

  test("counts gives the row count, then each predicate's matches") {
    val df = rows.toDF("a", "b", "c")
    assert(Audit.counts(df, col("a") <= 10, col("b") === 0) ===
      Seq(50L, 10L, 3L))
    assert(Audit.counts(df.filter(lit(false)), col("a") > 0) === Seq(0L, 0L))
  }

  // actual: q1 → {1,2,3}, q2 → {4}; truth: q1 → {1,2,9}, q2 → {5,6}
  private def actual = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 4L))
    .toDF("query_id", "nn_id")
  private def truth = Seq((1L, 1L), (1L, 2L), (1L, 9L), (2L, 5L), (2L, 6L))
    .toDF("query_id", "nn_id")
  private val keys = Seq("query_id", "nn_id")

  test("hits counts actual rows and matches exactly, with extras") {
    val r = Audit.hits(actual, truth, keys,
      countDistinct(col("query_id")).as("nq"),
      max(col("nn_id")).as("top")).head()
    assert(r.getAs[Long]("n") === 4L)
    assert(r.getAs[Long]("hits") === 2L)
    assert(r.getAs[Long]("nq") === 2L)
    assert(r.getAs[Long]("top") === 4L)
    // no actual rows: zero counts, never NULL
    val e = Audit.hits(actual.filter(lit(false)), truth, keys).head()
    assert((e.getLong(0), e.getLong(1)) === ((0L, 0L)))
  }

  test("overlap counts both sides exactly, with extras") {
    val r = Audit.overlap(actual, truth, keys,
      coalesce(sum(when(col("__a").isNull, 1L)), lit(0L)).as("missed"))
      .head()
    assert(r.getAs[Long]("n") === 4L)
    assert(r.getAs[Long]("hits") === 2L)
    assert(r.getAs[Long]("n_truth") === 5L)
    assert(r.getAs[Long]("missed") === 3L)
    // extra columns carried on the actual side are visible to extras
    val tagged = actual.withColumn("__in", when(col("nn_id") < 3, 1L))
    val t = Audit.overlap(tagged, truth, keys,
      coalesce(sum("__in"), lit(0L))).head()
    assert(t.getLong(3) === 2L)
    // empty ground truth: every actual row is actual-only
    val e = Audit.overlap(actual, truth.filter(lit(false)), keys).head()
    assert((e.getLong(0), e.getLong(1), e.getLong(2)) === ((4L, 0L, 0L)))
  }

  test("recallOk passes an empty ground truth and applies the floor") {
    assert(Audit.recallOk(0L, 0L, 0.6) === 1)
    assert(Audit.recallOk(5L, 0L, 0.99) === 1)
    assert(Audit.recallOk(6L, 10L, 0.6) === 1)
    assert(Audit.recallOk(5L, 10L, 0.6) === 0)
  }

  test("kEff clamps k to n - 1 and never goes negative") {
    assert(Audit.kEff(10, 100L) === 10L)
    assert(Audit.kEff(10, 4L) === 3L)
    assert(Audit.kEff(10, 1L) === 0L)
    assert(Audit.kEff(10, 0L) === 0L)
  }

  test("parallel returns both results and rethrows either failure") {
    assert(Audit.parallel(1 + 1, "b") === ((2, "b")))
    intercept[IllegalStateException] {
      Audit.parallel(throw new IllegalStateException("a"), 1)
    }
    intercept[IllegalArgumentException] {
      Audit.parallel(1, throw new IllegalArgumentException("b"))
    }
  }
}
