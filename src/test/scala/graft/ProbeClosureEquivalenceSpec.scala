package graft

import graft.functions.TextFunctions.letCol
import graft.functions.VectorExpressions.dot_native
import graft.functions.VectorFunctions.toDoubleVec
import graft.gates.Audit
import graft.operators.{Checkpoints, Dedup, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the two one-core restructures against the engines they
  * replaced, copied verbatim below: `knnPq` — now the IVFADC probe with
  * every cell probed — against the non-equi all-codes ADC scan, and the
  * `knnRecallGates` rows against the same gate over the standalone
  * tiers and that scan; `connectedComponentsStar`, now the only closure
  * engine, against min-label propagation and a driver-side union-find.
  * Rows must be identical, ties included. */
class ProbeClosureEquivalenceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The deleted engines (the per-JVM codes registry and the resume
    * store dropped: they memoize and restart, they do not compute). */
  private object Reference {
    val PqM = 16
    val PqSubDim = 4
    val PqK = 16

    def unitVec(v: Column): Column =
      letCol(v) { vv =>
        letCol(sqrt(dot_native(vv, vv))) { n =>
          when(n > lit(0.0d), transform(vv, x => x / n)).otherwise(vv)
        }
      }

    def pqCodes(v: Column, cb: Seq[Seq[Seq[Double]]]): Column = {
      val cbl = typedlit(cb)
      letCol(v) { vv =>
        transform(sequence(lit(0), lit(PqM - 1)), s =>
          letCol(slice(vv, s * PqSubDim + 1, lit(PqSubDim))) { sv =>
            letCol(transform(sequence(lit(1), lit(PqK)), kk =>
              aggregate(
                zip_with(sv, element_at(element_at(cbl, s + 1), kk),
                  (a, b) => (a - b) * (a - b)),
                lit(0.0d), (acc, x) => acc + x))) { ds =>
              (array_position(ds, array_min(ds)) - 1).cast("int")
            }
          })
      }
    }

    def knnPq(emb: DataFrame, queries: DataFrame, k: Int,
              iters: Int = 3, rerank: Int = 50): DataFrame = {
      val cb = Similarity.pqTrain(emb, iters)
      if (cb.isEmpty)
        return Seq.empty[(Long, Long, Int)].toDF("query_id", "nn_id", "rn")
      val cbSeq = cb.map(_.toSeq.map(_.toSeq)).toSeq
      val codes = Checkpoints.scratch(
        emb.select(col("vec_id").as("nn_id"),
          pqCodes(unitVec(toDoubleVec(col("embedding"))), cbSeq)
            .as("codes")))
      knnPqWith(emb, codes, cb, queries, k, rerank)
    }

    def knnPqWith(emb: DataFrame, corpus: DataFrame,
                  cb: Array[Array[Array[Double]]], queries: DataFrame,
                  k: Int, rerank: Int): DataFrame = {
      val cbSeq = cb.map(_.toSeq.map(_.toSeq)).toSeq
      val cbl = typedlit(cbSeq)
      val q = Checkpoints.scratch(
        queries.select(col("vec_id").as("query_id"),
          unitVec(toDoubleVec(col("embedding"))).as("vq"))
        .withColumn("tabs",
          transform(sequence(lit(0), lit(PqM - 1)), s =>
            transform(sequence(lit(1), lit(PqK)), kk =>
              aggregate(
                zip_with(slice(col("vq"), s * PqSubDim + 1, lit(PqSubDim)),
                  element_at(element_at(cbl, s + 1), kk),
                  (a, b) => (a - b) * (a - b)),
                lit(0.0d), (acc, x) => acc + x)))))
      val wA = Window.partitionBy("query_id")
        .orderBy(asc("approx_d"), asc("nn_id"))
      val shortlist = corpus
        .join(broadcast(q.select("query_id", "tabs")),
          col("query_id") =!= col("nn_id"))
        .withColumn("approx_d",
          aggregate(sequence(lit(0), lit(PqM - 1)), lit(0.0d),
            (acc, s) => acc + element_at(element_at(col("tabs"), s + 1),
              element_at(col("codes"), s + 1) + 1)))
        .withColumn("ra", row_number().over(wA))
        .filter(col("ra") <= rerank)
        .select("query_id", "nn_id")
      val cv = emb.select(col("vec_id").as("nn_id"),
        unitVec(toDoubleVec(col("embedding"))).as("vc"))
      val wE = Window.partitionBy("query_id")
        .orderBy(desc("sim"), asc("nn_id"))
      broadcast(shortlist).join(cv, Seq("nn_id"))
        .join(broadcast(q.select("query_id", "vq")), Seq("query_id"))
        .withColumn("sim", round(dot_native(col("vq"), col("vc")), 6))
        .withColumn("rn", row_number().over(wE))
        .filter(col("rn") <= k)
        .select(col("query_id"), col("nn_id"), col("rn"))
    }

    /** The recall gate as it stood, over the standalone tiers (the
      * shared-model path is their exact replay) and the scan above. */
    def knnRecallGates(emb: DataFrame, queries: DataFrame,
                       k: Int): DataFrame = {
      val bf = Checkpoints.scratch(
        Similarity.knnBruteForce(emb, queries, k).select("query_id", "nn_id"))
      def gate(name: String, ann: DataFrame, floor: Double): DataFrame =
        Audit.hits(ann.select("query_id", "nn_id"), bf,
            Seq("query_id", "nn_id"),
            count_distinct(col("query_id")).as("n_queries"))
          .select(lit(name).as("method"), col("n").as("n_results"),
            col("n_queries"),
            (col("n") === col("n_queries") * k).cast("int").as("full_k"),
            (col("hits").cast("double") >=
              lit(floor) * col("n_queries") * k).cast("int").as("recall_ok"))
      gate("ivf", Similarity.knnIvf(emb, queries, k), 0.6)
        .unionAll(gate("ivfpq", Similarity.knnIvfPqAuto(emb, queries, k), 0.6))
        .unionAll(gate("ivfpq_res",
          Similarity.knnIvfPqAuto(emb, queries, k, residual = true), 0.6))
        .unionAll(gate("lsh", Similarity.knnLsh(emb, queries, k), 0.6))
        .unionAll(gate("lsh_mp",
          Similarity.knnLsh(emb, queries, k, multiProbe = true), 0.6))
        .unionAll(gate("pq", knnPq(emb, queries, k), 0.6))
        .orderBy("method")
    }

    /** Min-label propagation (`Dedup.connectedComponents`). */
    def connectedComponents(pairs: DataFrame,
                            maxIter: Int = 15): DataFrame = {
      val p = Checkpoints.materialize(pairs.select(col("id_a"), col("id_b")))
      val edges = Checkpoints.materialize(p
        .union(p.select(col("id_b").as("id_a"), col("id_a").as("id_b"))))
      Checkpoints.dropRound(p)
      var labels = Checkpoints.materialize(
        edges.select(col("id_a").as("id")).distinct()
          .withColumn("comp", col("id")))
      var round = labels
      var iter = 0
      var changed = 1L
      while (changed > 0 && iter < maxIter) {
        val nbrMin = edges
          .join(labels.select(col("id").as("id_b"), col("comp").as("nc")),
            "id_b")
          .groupBy(col("id_a").as("id"))
          .agg(min("nc").as("nbr_comp"))
        val next = Checkpoints.materialize(
          labels.join(nbrMin, Seq("id"), "left")
            .select(col("id"), col("comp"),
              least(col("comp"), coalesce(col("nbr_comp"), col("comp")))
                .as("new_comp")))
        changed = next.filter(col("new_comp") =!= col("comp")).count()
        Checkpoints.dropRound(round)
        round = next
        labels = next.select(col("id"), col("new_comp").as("comp"))
        iter += 1
      }
      Checkpoints.dropRound(edges)
      require(changed == 0,
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing); the pair graph has a chain " +
          s"longer than maxIter — raise maxIter or pre-cluster with " +
          s"large-star/small-star")
      labels.select(col("id").as("doc_id"), col("comp"))
    }
  }

  // ---- k-NN ----

  /** The generated test tables (TESTDATA.md). */
  private val testData = "/root/testdata"

  private def emb(rows: Seq[(Long, Array[Float])]): DataFrame =
    rows.toDF("vec_id", "embedding")

  private def randomRows(n: Int, seed: Long): Seq[Array[Float]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(n)(Array.fill(64)(rnd.nextGaussian().toFloat))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** knnPq and the gate (cold registry) against the reference. */
  private def checkKnn(what: String, corpus: DataFrame, queries: DataFrame,
                       k: Int): Unit = {
    Similarity.clearModelCachesForTest()
    val got = rows(Similarity.knnPq(corpus, queries, k))
    assert(got === rows(Reference.knnPq(corpus, queries, k)), s"$what: knnPq")
    Similarity.clearModelCachesForTest()
    assert(rows(Similarity.knnRecallGates(corpus, queries, k)) ===
      rows(Reference.knnRecallGates(corpus, queries, k)), s"$what: gates")
  }

  for (sf <- Seq("sf0.001", "sf0.01"))
    test(s"knnPq and knnRecallGates equal the all-codes scan: $sf") {
      val e = Tables.embeddings(spark, s"$testData/$sf")
      checkKnn(sf, e, e.filter(col("vec_id") < 10), 5)
    }

  test("knnPq equals the all-codes scan on degenerate corpora") {
    val rand = randomRows(40, 7)
    val base = emb(rand.zipWithIndex.map { case (v, i) => (i.toLong, v) })
    // 40 rows over 10 distinct vectors: equal codes, so ADC ties at
    // the shortlist cutoff and exact-sim ties resolve by nn_id
    val dups = emb((0 until 40).map(i => (i.toLong, rand(i % 10))))
    val zeros = emb(rand.zipWithIndex.map { case (v, i) =>
      (i.toLong, if (i % 5 == 0) Array.fill(64)(0f) else v) })
    val outside = emb(randomRows(6, 9).zipWithIndex.map { case (v, i) =>
      (1000L + i, v) })
    val small = emb(rand.take(8).zipWithIndex.map { case (v, i) =>
      (i.toLong, v) })
    val one = emb(Seq((5L, rand.head)))
    val empty = emb(Seq.empty)
    val wrongDim = emb(Seq((1L, Array(1f, 2f, 3f)), (2L, Array(0f, 0f, 0f)),
      (3L, Array(3f, 2f, 1f))))
    val cases = Seq(
      ("duplicate vectors", dups, dups.filter(col("vec_id") % 7 === 0), 5),
      ("zero vectors", zeros, zeros.filter(col("vec_id") < 11), 5),
      ("queries outside the corpus", base, outside, 5),
      ("k >= n", small, small, 10),
      ("one row, its own query", one, one, 5),
      ("one row, outside query", one, outside, 5),
      ("empty corpus", empty, outside, 5),
      ("empty queries", base, empty, 5),
      ("wrong dim", wrongDim, wrongDim, 2))
    for ((what, corpus, queries, k) <- cases)
      checkKnn(what, corpus, queries, k)
  }

  test("knnPq's rerank depth below the shortlist ties equals the scan") {
    // shortlist 2 over 4 identical copies per vector: the ADC window
    // keeps the two lowest nn_ids of each tie run on both engines
    val rand = randomRows(10, 11)
    val dups = emb((0 until 40).map(i => (i.toLong, rand(i % 10))))
    val q = dups.filter(col("vec_id") < 4)
    Similarity.clearModelCachesForTest()
    assert(rows(Similarity.knnPq(dups, q, 3, rerank = 2)) ===
      rows(Reference.knnPq(dups, q, 3, rerank = 2)))
  }

  // ---- connected components ----

  /** Component minima by union-find on the driver. */
  private def unionFind(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => (x, find(x))).sorted
  }

  /** A seeded pair graph: chains, cliques, a hub, isolated pairs over
    * shuffled ids (so a component's minimum sits anywhere in it), each
    * pair in a random orientation, a quarter of them listed twice. No
    * self-pairs: no pair producer emits one. */
  private def randomGraph(seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((0L until 400L).map(i => i * 7 - 900).toVector)
    var next = 0
    def take(n: Int): Vector[Long] = {
      val s = ids.slice(next, next + n)
      next += n
      s
    }
    val edges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    for (_ <- 0 until 3) take(2 + rnd.nextInt(18)).sliding(2)
      .foreach(c => edges += ((c(0), c(1))))
    for (_ <- 0 until 3) {
      val c = take(3 + rnd.nextInt(4))
      for (i <- c.indices; j <- i + 1 until c.size) edges += ((c(i), c(j)))
    }
    val hub = take(1 + 12)
    hub.tail.foreach(l => edges += ((hub.head, l)))
    for (_ <- 0 until 4) {
      val c = take(2)
      edges += ((c(0), c(1)))
    }
    val oriented = edges.map(e => if (rnd.nextBoolean()) e.swap else e)
    rnd.shuffle(oriented ++ rnd.shuffle(oriented).take(oriented.size / 4))
      .toSeq
  }

  private def checkClosure(what: String, pairs: Seq[(Long, Long)]): Unit = {
    val df = pairs.toDF("id_a", "id_b")
    val star = Dedup.connectedComponentsStar(df)
      .as[(Long, Long)].collect().toSeq.sorted
    val ref = Reference.connectedComponents(df, maxIter = 64)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(star === ref, s"$what: star vs label-prop")
    assert(star === unionFind(pairs), s"$what: star vs union-find")
  }

  test("star closure labels equal min-label propagation on pair graphs") {
    for (seed <- 1L to 4L) checkClosure(s"random graph $seed", randomGraph(seed))
    checkClosure("a 25-node chain listed backwards",
      (0L until 24L).map(i => (i + 1, i)).reverse)
    checkClosure("a clique, both orientations, every pair twice", {
      val c = for (i <- 10L to 15L; j <- 10L to 15L if i != j) yield (i, j)
      c ++ c
    })
    checkClosure("isolated pairs", Seq((4L, 3L), (8L, 9L), (-2L, -1L)))
    checkClosure("empty", Seq.empty)
  }

  test("dedupComponents and dedupComponentsStar give the label-prop labels") {
    val docs = Dedup.withNearDups(Tables.documents(spark, s"$testData/sf0.001"))
    val ref = rows(Reference.connectedComponents(
      Dedup.jaccardPairsAuto(docs, 0.5)))
    assert(rows(Dedup.dedupComponents(docs, 0.5)) === ref)
    assert(rows(Dedup.dedupComponentsStar(docs, 0.5)) === ref)
  }
}
