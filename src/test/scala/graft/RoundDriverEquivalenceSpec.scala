package graft

import graft.functions.TextFunctions.letCol
import graft.functions.VectorExpressions.dot_native
import graft.functions.VectorFunctions.toDoubleVec
import graft.gates.Audit
import graft.operators.{Checkpoints, Dedup, Graph, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the three engines ported onto the round driver
  * ([[Checkpoints.rounds]]) against their hand-written loops, copied
  * verbatim below with their comments dropped: `pageRank`,
  * `connectedComponentsStar` with its live-store set, and NN-Descent's
  * entry, cold build and round loop (the registry left out: it
  * memoizes, it does not compute). The copies run against a cold
  * resume store, so their store lookups read `None` and, each run
  * having its own store directory, they do not clear it. Every case runs in the default mode, under a reliable
  * checkpoint dir and under a cold resume dir; the rows must be equal,
  * and in the default mode so must the job counts. */
class RoundDriverEquivalenceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private object Reference {

    def corpusFp(df: DataFrame, cols: Seq[String]): (Long, String) =
      Audit.unpack(df.agg(count(lit(1)),
        sum(xxhash64(cols.map(col): _*).cast("decimal(20,0)"))).head())

    def unitVec(v: Column): Column =
      letCol(v) { vv =>
        letCol(sqrt(dot_native(vv, vv))) { n =>
          when(n > lit(0.0d), transform(vv, x => x / n)).otherwise(vv)
        }
      }

    def pageRank(edges: DataFrame, iters: Int, scale: Long = Graph.Scale,
                 damp: Long = 85L): DataFrame = {
      require(iters >= 0 && damp >= 0 && damp <= 100)
      val e = Checkpoints.materialize(edges.repartition(col("src")))
      val base = (100L - damp) * scale / 100L
      val session = edges.sparkSession
      val resumed = Option.empty[(Int, DataFrame)]
      var roundNo = resumed.map(_._1).getOrElse(0)
      var ranks = Checkpoints.materialize(resumed.map(_._2).getOrElse(
        e.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("outdeg"))
          .withColumn("pr", lit(scale))))
      if (resumed.isEmpty) Checkpoints.saveRound(ranks, "pagerank", 0)
      var i = roundNo
      while (i < iters) {
        val give = ranks
          .select(col("node").as("src"), expr("pr DIV outdeg").as("give"))
        val contrib = e.join(give, "src")
          .groupBy(col("dst").as("node"))
          .agg(sum("give").as("contrib"))
        val stepped = Checkpoints.materialize(ranks.drop("pr")
          .join(contrib, Seq("node"), "left")
          .select(col("node"), col("outdeg"),
            (lit(base) +
              expr(s"($damp * coalesce(contrib, CAST(0 AS BIGINT))) DIV 100"))
              .as("pr")))
        Checkpoints.dropRound(ranks)
        ranks = stepped
        i += 1
        Checkpoints.saveRound(ranks, "pagerank", i)
      }
      Checkpoints.dropRound(e)
      ranks.select("node", "pr")
    }

    val liveStarStores =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

    def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 50)
        : DataFrame = {
      val init = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
        .filter(col("u") =!= col("v"))
      def canon(e: DataFrame): DataFrame = e
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
      def largeStar(e: DataFrame): DataFrame = {
        val sym = e.select(explode(array(
            struct(col("u"), col("v")),
            struct(col("v").as("u"), col("u").as("v")))).as("e"))
          .select(col("e.u").as("u"), col("e.v").as("v"))
        val m = sym.groupBy("u")
          .agg(least(min("v"), first("u")).as("m"))
        sym.join(m, "u").filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
      }
      def smallStar(e: DataFrame): DataFrame = {
        val m = e.groupBy("u").agg(min("v").as("m"))
        e.join(m, "u")
          .select(explode(array(
            struct(col("v").as("u"), col("m").as("v")),
            struct(col("u"), col("m").as("v")))).as("e"))
          .select(col("e.u").as("u"), col("e.v").as("v"))
      }
      def audit(e: DataFrame): (Long, String) =
        Audit.fingerprint(e, Seq("u", "v"))
      var edges = Checkpoints.materialize(canon(init))
      var edgeFp = audit(edges)
      val session = pairs.sparkSession
      val store = Some(s"components_star-${edgeFp._1}-${edgeFp._2}")
        .filter(liveStarStores.add)
      try {
        val resumed = Option.empty[(Int, DataFrame)]
        var roundNo = resumed.map(_._1).getOrElse(0)
        resumed match {
          case Some((_, snap)) =>
            Checkpoints.dropRound(edges)
            edges = Checkpoints.materialize(snap)
            edgeFp = audit(edges)
          case None => store.foreach(Checkpoints.saveRound(edges, _, 0))
        }
        var iter = 0
        var converged = false
        while (!converged && iter < maxIter) {
          val next = Checkpoints.materialize(
            canon(smallStar(canon(largeStar(edges)))))
          roundNo += 1
          store.foreach(Checkpoints.saveRound(next, _, roundNo))
          val nextFp = audit(next)
          converged = nextFp == edgeFp
          Checkpoints.dropRound(edges)
          edges = next
          edgeFp = nextFp
          iter += 1
        }
        require(converged,
          s"connectedComponentsStar did not converge in $maxIter rounds — " +
            s"O(log² n) bound exceeded, which indicates a bug, not a deep " +
            s"graph")
      } finally store.foreach(liveStarStores.remove)
      edges.select(col("u").as("doc_id"), col("v").as("comp"))
        .union(edges.select(col("v").as("doc_id"), col("v").as("comp"))
          .distinct())
    }

    def knnGraphNnDescent(emb: DataFrame, k: Int, iters: Int,
                          initRounds: Int, bucketSize: Int, buildK: Int,
                          seed: Long, rho: Double): DataFrame = {
      val fp = corpusFp(emb, Seq("vec_id", "embedding"))
      val kb = if (buildK > 0) buildK else 2 * k
      val rhoEff = if (rho > 0.0) rho else 1.0
      val op = s"nndescent-${fp._1}-${fp._2}-$kb-$iters-$initRounds-" +
        s"$bucketSize-$seed-$rhoEff"
      val wide = knnGraphNnDescentBuild(emb, kb, iters, initRounds,
        bucketSize, kb, seed, rhoEff, op)
      if (kb == k) wide else wide.filter(col("rn") <= k)
    }

    def knnGraphNnDescentBuild(emb: DataFrame, k: Int, iters: Int,
                               initRounds: Int, bucketSize: Int,
                               buildK: Int, seed: Long,
                               rho: Double, op: String): DataFrame = {
      val s = emb.sparkSession
      val u = Checkpoints.scratch(
        emb.select(col("vec_id"),
          unitVec(toDoubleVec(col("embedding"))).as("v")))
      val n = u.count()
      val empty = u.select(col("vec_id").as("query_id"),
        col("vec_id").as("nn_id"), lit(0.0d).as("sim"), lit(0).as("rn"))
        .filter(lit(false))
      if (n < 2) return empty
      val kb = if (buildK > 0) buildK else 2 * k
      val nBuckets = math.max(1L, n / bucketSize)
      val resume = Option.empty[(Int, DataFrame)]
      val g0 = resume.map { r =>
        val f = if (r._2.columns.contains("tried")) r._2
                else r._2.withColumn("tried", lit(false))
        Checkpoints.materialize(f)
      }.getOrElse {
        val rounds = (0 until initRounds).map { r =>
          u.select(col("vec_id"),
            lit(r).as("r"),
            pmod(xxhash64(col("vec_id"), lit(seed + r)), lit(nBuckets))
              .as("bkt"))
        }.reduce(_ unionAll _)
        val initPairs = rounds.as("x").join(rounds.as("y"), Seq("r", "bkt"))
          .filter(col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
          .distinct()
        val g = Checkpoints.materialize(nnTopK(kb, nnScore(u, initPairs),
          empty.withColumn("tried", lit(false))))
        Checkpoints.saveRound(g, op, 0)
        g
      }
      val startRound = resume.map(_._1).getOrElse(0)
      val g = nnDescendRounds(u, g0, startRound, iters, kb, rho, seed,
        Some(op))
        .select("query_id", "nn_id", "sim", "rn")
      if (kb == k) g else g.filter(col("rn") <= k)
    }

    def nnScore(u: DataFrame, pairs: DataFrame): DataFrame =
      pairs
        .join(u.select(col("vec_id").as("a"), col("v").as("va")), Seq("a"))
        .join(u.select(col("vec_id").as("b"), col("v").as("vb")), Seq("b"))
        .select(col("a"), col("b"),
          round(dot_native(col("va"), col("vb")), 6).as("sim"))

    def nnTopK(kb: Int, fresh: DataFrame, prior: DataFrame): DataFrame = {
      val w = Window.partitionBy("query_id")
        .orderBy(desc("sim"), asc("nn_id"))
      fresh.select(explode(array(
            struct(col("a").as("query_id"), col("b").as("nn_id")),
            struct(col("b").as("query_id"), col("a").as("nn_id"))))
          .as("e"), col("sim"))
        .select(col("e.query_id"), col("e.nn_id"), col("sim"),
          lit(false).as("tried"))
        .unionAll(prior.select("query_id", "nn_id", "sim", "tried"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= kb)
        .select("query_id", "nn_id", "sim", "rn", "tried")
    }

    def nnDescendRounds(u: DataFrame, g0: DataFrame, from: Int,
                        to: Int, kb: Int, rho: Double, seed: Long,
                        op: Option[String]): DataFrame = {
      var g = g0
      for (i <- (from + 1) to to) {
        val passNow =
          if (rho >= 1.0) lit(true)
          else pmod(xxhash64(col("query_id"), col("nn_id"),
            lit(seed + 7000 + i)), lit(1000000L)) < (rho * 1e6).toLong
        val actCol = !col("tried") && passNow
        val fwd = g.select(col("query_id").as("node"),
          col("nn_id").as("nb"), actCol.as("is_new"),
          lit(true).as("is_all"))
        val wR = Window.partitionBy("node")
          .orderBy(
            xxhash64(col("node"), col("nb"), lit(seed + 3000 + i)),
            col("nb"))
        val rev = g.select(col("nn_id").as("node"),
            col("query_id").as("nb"), actCol.as("act"))
          .withColumn("rr", row_number().over(wR))
          .withColumn("rra", sum(col("act").cast("long")).over(wR))
          .select(col("node"), col("nb"),
            (col("act") && col("rra") <= kb).as("is_new"),
            (col("rr") <= kb).as("is_all"))
          .filter(col("is_new") || col("is_all"))
        val b = fwd.unionAll(rev)
          .groupBy("node")
          .agg(collect_set(when(col("is_new"), col("nb"))).as("bn"),
            collect_set(when(col("is_all"), col("nb"))).as("ba"))
        val cand = b
          .select(explode(col("bn")).as("x"), col("ba"))
          .select(col("x"), explode(col("ba")).as("y"))
          .filter(col("x") =!= col("y"))
          .select(least(col("x"), col("y")).as("a"),
            greatest(col("x"), col("y")).as("b"))
          .distinct()
        val cur = g.select(least(col("query_id"), col("nn_id")).as("a"),
          greatest(col("query_id"), col("nn_id")).as("b")).distinct()
        val fresh = cand.join(cur, Seq("a", "b"), "left_anti")
        val prev = g
        val prior = g.withColumn("tried", col("tried") || passNow)
        g = Checkpoints.materialize(nnTopK(kb, nnScore(u, fresh), prior))
        op.foreach(Checkpoints.saveRound(g, _, i))
        Checkpoints.dropRound(prev)
      }
      g
    }
  }

  /** The default mode, then each knob set to a fresh directory. */
  private val modes = Seq("default" -> None,
    "reliable" -> Some(Checkpoints.DirKey),
    "cold resume" -> Some(Checkpoints.ResumeKey))

  private def inMode[A](knob: Option[String])(body: => A): A = knob match {
    case None => body
    case Some(key) =>
      spark.conf.set(key,
        java.nio.file.Files.createTempDirectory("graft-rounds").toString)
      try body
      finally spark.conf.unset(key)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The port and the reference give equal rows in every mode, and run
    * equally many jobs in the default mode. */
  private def check(what: String)(port: => DataFrame)(
      ref: => DataFrame): Unit =
    for ((mode, knob) <- modes) {
      val (want, nRef) = inMode(knob)(JobBudget.jobsOf(spark)(rows(ref)))
      val (got, nPort) = inMode(knob)(JobBudget.jobsOf(spark)(rows(port)))
      assert(got === want, s"$what ($mode): rows")
      if (knob.isEmpty)
        assert(nPort === nRef, s"$what: jobs in the default mode")
    }

  private val testData = "/root/testdata"

  private lazy val graphs: Seq[(String, DataFrame)] = Seq(
    "sf0.001" -> Graph.customerSupplierEdges(spark, s"$testData/sf0.001"),
    "sf0.01" -> Graph.customerSupplierEdges(spark, s"$testData/sf0.01"),
    "empty" -> Seq.empty[(Long, Long)].toDF("src", "dst"),
    "one edge" -> Seq((1L, 2L)).toDF("src", "dst"),
    "self-loops only" -> Seq((1L, 1L), (2L, 2L)).toDF("src", "dst"),
    "chain(1, 16)" -> (1L until 16L).map(i => (i, i + 1)).toDF("src", "dst"))

  test("pageRank equals the hand-written loop") {
    for ((what, e) <- graphs; iters <- Seq(5, 0))
      check(s"$what, iters = $iters")(Graph.pageRank(e, iters))(
        Reference.pageRank(e, iters))
  }

  test("connectedComponentsStar equals the hand-written loop") {
    for ((what, e) <- graphs) {
      val pairs = e.select($"src".as("id_a"), $"dst".as("id_b"))
      check(what)(Dedup.connectedComponentsStar(pairs))(
        Reference.connectedComponentsStar(pairs))
      // a zero-round budget cannot reach the fixpoint: both refuse
      for ((_, knob) <- modes) inMode(knob) {
        intercept[IllegalArgumentException] {
          Dedup.connectedComponentsStar(pairs, 0).collect()
        }
        intercept[IllegalArgumentException] {
          Reference.connectedComponentsStar(pairs, 0).collect()
        }
      }
    }
  }

  test("NN-Descent equals the hand-written loop") {
    val sf1 = Tables.embeddings(spark, s"$testData/sf0.001")
    val cases = Seq(
      ("sf0.001", sf1, 5),
      ("sf0.01", Tables.embeddings(spark, s"$testData/sf0.01"), 5),
      ("sf0.001, iters = 0", sf1, 0),
      ("one vector", sf1.orderBy("vec_id").limit(1), 5),
      ("no vectors", sf1.filter(lit(false)), 5))
    for ((what, emb, iters) <- cases)
      check(what) {
        Similarity.clearNnGraphCacheForTest()
        Similarity.knnGraphNnDescent(emb, 10, iters)
      }(Reference.knnGraphNnDescent(emb, 10, iters, 4, 8, 0, 41L,
        Similarity.RhoAuto))
  }
}
