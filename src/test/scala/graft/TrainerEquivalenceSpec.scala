package graft

import graft.functions.TextFunctions.letCol
import graft.functions.VectorExpressions.dot_native
import graft.functions.VectorFunctions.toDoubleVec
import graft.operators.{Checkpoints, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver-side Lloyd kernel (graft.operators.Lloyd) against the
  * Spark-expression trainers it replaced, copied verbatim below: the
  * IVF codebook, the unit-sphere and residual PQ codebooks, the index
  * rows encoded under them, and the kmeans/pq training-stats rows must
  * all be identical — codebooks element for element (`sameElements`,
  * not a tolerance). The kernel's claim is that summing each Spark
  * partition's rows in order and merging the partials in partition
  * order reproduces Spark's own Sum/Average, so the inputs run at 1, 3
  * and 7 partitions, plus the degenerate shapes: residual codes, more
  * cells than rows, a single row, duplicate vectors, zero vectors, a
  * wrong-dim corpus and an empty one. */
class TrainerEquivalenceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The Spark trainers as they stood before the kernel (registry,
    * persist and sampling paths dropped: the test corpora are far
    * under the sample bound and compare pure dataflow). */
  private object Reference {
    val PqM = 16
    val PqSubDim = 4
    val PqK = 16

    def unitize(a: Array[Double]): Array[Double] = {
      val n = math.sqrt(a.map(x => x * x).sum)
      if (n == 0) a else a.map(_ / n)
    }

    def seedCentroids(e: DataFrame, cells: Int): Array[Array[Double]] =
      e.orderBy(xxhash64(col("vec_id"), lit(7)), col("vec_id"))
        .limit(cells).select("v").collect()
        .map(_.getSeq[Double](0).toArray)

    private val HofCellThreshold = 64

    private def centDots(v: Column, cents: Array[Array[Double]]): Column =
      if (cents.length <= HofCellThreshold)
        array(cents.toIndexedSeq.map(c =>
          dot_native(v, typedlit(c.toSeq))): _*)
      else
        transform(typedlit(cents.map(_.toSeq).toSeq), c => dot_native(v, c))

    def assignCells(df: DataFrame,
                    cents: Array[Array[Double]]): DataFrame = {
      val dots = centDots(col("v"), cents)
      df.withColumn("__d", dots)
        .withColumn("cell",
          (array_position(col("__d"), array_max(col("__d"))) - 1).cast("int"))
        .withColumn("best_dot", array_max(col("__d")))
        .drop("__d")
    }

    def lloydStep(e: DataFrame, cents: Array[Array[Double]],
                  dim: Int): Array[Array[Double]] = {
      val n = sqrt(dot_native(col("v"), col("v")))
      assignCells(e, cents)
        .groupBy("cell")
        .agg(array((0 until dim).map(i =>
          sum(when(n > 0, element_at(col("v"), i + 1) / n)
            .otherwise(lit(0.0)))): _*).as("cv"))
        .orderBy("cell").collect()
        .map(r => unitize(r.getSeq[Double](1).toArray))
    }

    def trainIvf(e: DataFrame, cells: Int,
                 lloydIters: Int): Array[Array[Double]] = {
      val seeds = seedCentroids(e, cells)
      if (seeds.isEmpty) return Array.empty
      val dim = seeds.head.length
      var refined = seeds.map(unitize)
      for (_ <- 0 until lloydIters) refined = lloydStep(e, refined, dim)
      refined
    }

    def kmeansTrainStats(emb: DataFrame, cells: Int = 8,
                         iters: Int = 3): DataFrame = {
      val e = emb.select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
        .withColumn("vn", sqrt(dot_native(col("v"), col("v"))))
      val seeds = seedCentroids(e, cells)
      if (seeds.isEmpty)
        return Seq.empty[(Int, Long, Int, Int)]
          .toDF("iter", "n_assigned", "cells_ok", "improved")
      val dim = seeds.head.length
      var cents = seeds.map(unitize)
      var prevObj = Double.NegativeInfinity
      e.persist()
      val out = (0 until iters).map { it =>
        val r = assignCells(e, cents).agg(
          count(lit(1)),
          sum(when(col("vn") > 0, col("best_dot") / col("vn"))
            .otherwise(lit(0.0))),
          count_distinct(col("cell"))).head()
        val (n, obj, used) = (r.getLong(0), r.getDouble(1), r.getLong(2))
        val row = (it, n,
          if (used >= 1 && used <= cells) 1 else 0,
          if (obj >= prevObj - 1e-6) 1 else 0)
        prevObj = obj
        if (it < iters - 1) cents = lloydStep(e, cents, dim)
        row
      }
      e.unpersist(false)
      out.toDF("iter", "n_assigned", "cells_ok", "improved")
    }

    def unitVec(v: Column): Column =
      letCol(v) { vv =>
        letCol(sqrt(dot_native(vv, vv))) { n =>
          when(n > lit(0.0d), transform(vv, x => x / n)).otherwise(vv)
        }
      }

    def pqSubVectors(emb: DataFrame): DataFrame =
      emb.select(col("vec_id"),
          unitVec(toDoubleVec(col("embedding"))).as("v"))
        .select(col("vec_id"),
          posexplode(transform(sequence(lit(0), lit(PqM - 1)),
            s => slice(col("v"), s * PqSubDim + 1, lit(PqSubDim))))
            .as(Seq("sub", "sv")))

    def pqAssign(df: DataFrame, cb: Seq[Seq[Seq[Double]]]): DataFrame = {
      val cbl = typedlit(cb)
      df.withColumn("__ds",
          transform(sequence(lit(1), lit(PqK)), kk =>
            aggregate(
              zip_with(col("sv"),
                element_at(element_at(cbl, col("sub") + 1), kk),
                (a, b) => (a - b) * (a - b)),
              lit(0.0d), (acc, x) => acc + x)))
        .withColumn("cell",
          (array_position(col("__ds"), array_min(col("__ds"))) - 1)
            .cast("int"))
        .withColumn("best_d", array_min(col("__ds")))
        .drop("__ds")
    }

    def pqSeed(emb: DataFrame): Array[Array[Array[Double]]] = {
      val seeds = emb
        .orderBy(xxhash64(col("vec_id"), lit(7)), col("vec_id"))
        .limit(PqK)
        .select(toDoubleVec(col("embedding")).as("v")).collect()
        .map(r => unitize(r.getSeq[Double](0).toArray))
      if (seeds.isEmpty || seeds.head.length < PqM * PqSubDim) Array.empty
      else Array.tabulate(PqM, PqK) { (s, kk) =>
        seeds(kk % seeds.length)
          .slice(s * PqSubDim, (s + 1) * PqSubDim)
      }
    }

    def pqLloydStep(sv: DataFrame, cb: Array[Array[Array[Double]]])
        : Array[Array[Array[Double]]] = {
      val means = pqAssign(sv, cb.map(_.toSeq.map(_.toSeq)).toSeq)
        .groupBy("sub", "cell")
        .agg(array((0 until PqSubDim).map(i =>
          avg(element_at(col("sv"), i + 1))): _*).as("mv"))
        .collect()
      val next = cb.map(_.clone())
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
      }
      next
    }

    def pqSeedOf(vf: DataFrame): Array[Array[Array[Double]]] = {
      val seeds = vf.orderBy(xxhash64(col("vec_id"), lit(7)), col("vec_id"))
        .limit(PqK).select("v").collect()
        .map(_.getSeq[Double](0).toArray)
      if (seeds.isEmpty || seeds.head.length < PqM * PqSubDim) Array.empty
      else Array.tabulate(PqM, PqK) { (s, kk) =>
        seeds(kk % seeds.length).slice(s * PqSubDim, (s + 1) * PqSubDim)
      }
    }

    def pqSubVectorsOf(vf: DataFrame): DataFrame =
      vf.select(col("vec_id"),
        posexplode(transform(sequence(lit(0), lit(PqM - 1)),
          s => slice(col("v"), s * PqSubDim + 1, lit(PqSubDim))))
          .as(Seq("sub", "sv")))

    def pqTrainOn(vf: DataFrame, iters: Int)
        : Array[Array[Array[Double]]] = {
      var cb = pqSeedOf(vf)
      if (cb.isEmpty) return cb
      val sv = pqSubVectorsOf(vf).persist()
      for (_ <- 1 to iters) cb = pqLloydStep(sv, cb)
      sv.unpersist(false)
      cb
    }

    def pqTrain(emb: DataFrame, iters: Int)
        : Array[Array[Array[Double]]] = {
      var cb = pqSeed(emb)
      if (cb.isEmpty) return cb
      val sv = pqSubVectors(emb).persist()
      for (_ <- 1 to iters) cb = pqLloydStep(sv, cb)
      sv.unpersist(false)
      cb
    }

    def pqTrainStats(emb: DataFrame, iters: Int = 3): DataFrame = {
      var cb = pqSeed(emb)
      if (cb.isEmpty)
        return Seq.empty[(Int, Long, Int, Int)]
          .toDF("iter", "n_assigned", "cells_ok", "improved")
      val sv = pqSubVectors(emb).persist()
      var prevErr = Double.MaxValue
      val out = (0 until iters).map { it =>
        val r = pqAssign(sv, cb.map(_.toSeq.map(_.toSeq)).toSeq)
          .agg(count(lit(1)), sum(col("best_d")),
            count_distinct(col("sub"), col("cell"))).head()
        val (n, err, used) = (r.getLong(0), r.getDouble(1), r.getLong(2))
        val row = (it, n,
          if (used >= 1 && used <= PqM.toLong * PqK) 1 else 0,
          if (err <= prevErr * (1 + 1e-9) + 1e-6) 1 else 0)
        prevErr = err
        if (it < iters - 1) cb = pqLloydStep(sv, cb)
        row
      }
      sv.unpersist(false)
      out.toDF("iter", "n_assigned", "cells_ok", "improved")
    }

    /** The residual branch of the old ivfPqIndex: PQ trained on the
      * scratch-materialized residual frame. */
    def pqTrainResidual(emb: DataFrame, cents: Array[Array[Double]],
                        iters: Int): Array[Array[Array[Double]]] = {
      val e = emb.select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
      val assigned = assignCells(e, cents).drop("best_dot")
      val centsLit = typedlit(cents.map(_.toSeq).toSeq)
      val enc = Checkpoints.scratch(assigned.select(col("vec_id"), col("cell"),
        zip_with(unitVec(col("v")),
          element_at(centsLit, col("cell") + 1),
          (a, b) => a - b).as("v")))
      pqTrainOn(enc.select("vec_id", "v"), iters)
    }
  }

  // ---- corpora ----

  /** The generated test tables (TESTDATA.md). */
  private val testData = "/root/testdata"

  private def emb(rows: Seq[(Long, Array[Float])]): DataFrame =
    rows.toDF("vec_id", "embedding")

  /** The benchmark's ANN corpus shape: 300 64-d vectors around 16 unit
    * centres, spread 0.6 (perfbench/gen.py `_clustered`). */
  private lazy val benchCorpus: DataFrame = {
    val rnd = new java.util.Random(701)
    val centres = Array.fill(16) {
      val c = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / n)
    }
    emb((0 until 300).map { i =>
      val c = centres(rnd.nextInt(16))
      (i.toLong, Array.tabulate(64)(j =>
        (c(j) + 0.6 * rnd.nextGaussian() / 8.0).toFloat))
    })
  }

  private def randomRows(n: Int, seed: Long): Seq[Array[Float]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(n)(Array.fill(64)(rnd.nextGaussian().toFloat))
  }

  /** `df` spread over exactly `parts` partitions, materialized so both
    * trainers read the same partitions in the same row order. */
  private def spread(df: DataFrame, parts: Int): DataFrame =
    if (parts == 1) df.coalesce(1).localCheckpoint(true)
    else df.repartition(parts).localCheckpoint(true)

  // ---- comparisons ----

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def sameCents(a: Array[Array[Double]],
                        b: Array[Array[Double]]): Boolean =
    a.length == b.length && a.indices.forall(i => a(i).sameElements(b(i)))

  private def sameCb(a: Array[Array[Array[Double]]],
                     b: Array[Array[Array[Double]]]): Boolean =
    a.length == b.length && a.indices.forall(i => sameCents(a(i), b(i)))

  /** Models and index rows of ivfPqIndex (cold registry) against the
    * reference trainers plus the frozen-model encode under THEIR
    * models. */
  private def checkIndex(what: String, df: DataFrame, cells: Int,
                         residual: Boolean): Unit = {
    Similarity.clearModelCachesForTest()
    val (cents, cb, index) = Similarity.ivfPqIndex(df, cells,
      residual = residual)
    val e = df.select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
    val refCents = Reference.trainIvf(e, cells, 3)
    val refCb =
      if (refCents.isEmpty) Array.empty[Array[Array[Double]]]
      else if (residual) Reference.pqTrainResidual(df, refCents, 3)
      else Reference.pqTrain(df, 3)
    if (refCb.isEmpty) {
      // an untrainable corpus: both sides give the empty triple
      assert(cents.isEmpty && cb.isEmpty, what)
    } else {
      assert(sameCents(cents, refCents), s"$what: IVF centroids")
      assert(sameCb(cb, refCb), s"$what: PQ codebooks")
    }
    val refIndex =
      if (refCb.isEmpty) index.limit(0)
      else Similarity.ivfPqAppend(refCents, refCb, df, residual)
    assert(rows(index) === rows(refIndex), s"$what: index rows")
    // the standalone trainers share the registry entries ivfPqIndex
    // filled — and train identically from a cold registry
    Similarity.clearModelCachesForTest()
    if (!residual) assert(sameCb(Similarity.pqTrain(df), refCb), what)
  }

  private def checkStats(what: String, df: DataFrame, cells: Int): Unit = {
    assert(rows(Similarity.kmeansTrainStats(df, cells, 3)) ===
      rows(Reference.kmeansTrainStats(df, cells, 3)), s"$what: kmeans")
    assert(rows(Similarity.pqTrainStats(df)) ===
      rows(Reference.pqTrainStats(df)), s"$what: pq")
  }

  for ((name, corpus, cells) <- Seq(
      ("sf0.001", () => Tables.embeddings(spark, s"$testData/sf0.001"), 16),
      ("sf0.01", () => Tables.embeddings(spark, s"$testData/sf0.01"), 16),
      ("bench 300x64", () => benchCorpus, 9)))
    test(s"kernel trains the Spark trainers' exact models: $name") {
      for (parts <- Seq(1, 3, 7)) {
        val df = spread(corpus(), parts)
        val what = s"$name @ $parts partitions"
        checkIndex(what, df, cells, residual = false)
        checkIndex(s"$what, residual", df, cells, residual = true)
        checkStats(what, df, 8)
      }
    }

  test("kernel matches the Spark trainers on degenerate corpora") {
    val rand = randomRows(40, 7)
    val cases = Seq(
      "more cells than rows" ->
        emb(rand.take(20).zipWithIndex.map { case (v, i) => (i.toLong, v) }),
      "single row" -> emb(Seq((5L, rand.head))),
      "duplicate vectors" ->
        emb((0 until 40).map(i => (i.toLong, rand(i % 10)))),
      "zero vectors" ->
        emb(rand.zipWithIndex.map { case (v, i) =>
          (i.toLong, if (i % 5 == 0) Array.fill(64)(0f) else v) }),
      "wrong dim" ->
        emb(Seq((1L, Array(1f, 2f, 3f)), (2L, Array(0f, 0f, 0f)),
          (3L, Array(3f, 2f, 1f)))),
      "empty" -> emb(Seq.empty))
    for ((what, df0) <- cases; parts <- Seq(1, 3)) {
      val df = spread(df0, parts)
      val cells = if (what == "more cells than rows") 50 else 4
      checkIndex(s"$what @ $parts", df, cells, residual = false)
      checkIndex(s"$what @ $parts, residual", df, cells, residual = true)
      checkStats(s"$what @ $parts", df, cells)
    }
  }
}
