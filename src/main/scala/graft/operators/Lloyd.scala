package graft.operators

import graft.functions.VectorFunctions.toDoubleVec
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.functions._

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The Lloyd kernel behind the IVF codebook and the PQ codebooks: seeded
  * k-means over primitive arrays. A trained codebook is C × dim doubles
  * of driver metadata, so the trainers fetch their training frame ONCE
  * (one Spark job) and run every round on the driver — where a Lloyd
  * round written as a Spark aggregation paid two or three jobs, each
  * ~70 ms of scheduling around microseconds of math.
  *
  * Bit-identical to that Spark form. A round computes one partial per
  * Spark partition (rows in partition order, sums starting at 0.0 — a
  * partial `Sum`/`Average` buffer), in parallel across partitions, and
  * merges the partials in partition-index order, the order in which
  * Spark's final `Sum`/`Average` merge them; dot products are the
  * sequential left fold of `dot_native`, and argmax/argmin use Spark's
  * double ordering with the first index winning ties (`array_max` +
  * `array_position`). So the training frame is fetched as its Spark
  * partitions (`glom`), not as one row list — and not by tagging rows
  * with `spark_partition_id()`, which the optimizer folds to 0 over a
  * local relation whose scan still runs in several partitions.
  *
  * The training-contract queries (`kmeansTrainStats`, `pqTrainStats`)
  * must see every row, so they run the same partial functions inside
  * one `mapPartitions` job per iteration instead of fetching.
  *
  * Rows with a null embedding are not training rows (the Spark form
  * crashed on a null seed and grouped the rest under a null cell). */
private[graft] object Lloyd {
  import Similarity.{PqK, PqM, PqSubDim}

  /** One training row: the id, its seed-order hash xxhash64(vec_id, 7),
    * its sample bucket pmod(xxhash64(vec_id, 41), 10⁶), and the
    * decoded vector. */
  final case class TrainRow(vec_id: Long, seed: Long, bucket: Long,
                            v: Array[Double])

  /** A fetched training frame: its Spark partitions in index order,
    * each partition's rows in scan order. */
  type Parts = Array[Array[TrainRow]]

  /** Training-set bound for a `k`-centroid codebook: ≥ 40 vectors per
    * centroid, floor 50k rows. Past 2× this the trainer reads a
    * deterministic hash-sample of ~target rows — Lloyd means converge
    * on the sample; only the assignment pass must see every row. The
    * fetched frame is thus ≤ 2·target rows × dim doubles. */
  def target(k: Int): Long = math.max(50000L, 40L * k)

  /** The sample's bucket bound, if an `n`-row corpus is sampled. */
  private def bucketBound(n: Long, target: Long): Option[Long] =
    if (n <= 2 * target) None else Some(1000000L * target / n)

  private def frame(emb: DataFrame): DataFrame =
    emb.select(col("vec_id").cast("long").as("vec_id"),
      xxhash64(col("vec_id"), lit(7)).as("seed"),
      pmod(xxhash64(col("vec_id"), lit(41)), lit(1000000L)).as("bucket"),
      toDoubleVec(col("embedding")).as("v"))
      .filter(col("v").isNotNull)

  private def typed(df: DataFrame): Dataset[TrainRow] =
    df.as(Encoders.product[TrainRow])

  /** The training frame of an `n`-row corpus at sample bound `target`:
    * one Spark job. */
  def fetch(emb: DataFrame, n: Long, target: Long): Parts = {
    val f = frame(emb)
    typed(bucketBound(n, target).fold(f)(b => f.filter(col("bucket") < b)))
      .rdd.glom().collect()
  }

  /** The rows of a fetch (at a bound ≥ `target`) that a fetch at
    * `target` would have returned. */
  def sample(parts: Parts, n: Long, target: Long): Parts =
    bucketBound(n, target).fold(parts)(b => parts.map(_.filter(_.bucket < b)))

  /** The first `k` rows in seed order (hash, then id). */
  private def seedRows(rows: Array[TrainRow], k: Int): Array[TrainRow] =
    rows.sortBy(r => (r.seed, r.vec_id)).take(k)

  /** [[seedRows]] taken in Spark (one TakeOrdered job), for the
    * contract queries that do not fetch their corpus. */
  private def seedRowsOf(emb: DataFrame, k: Int): Array[TrainRow] =
    typed(frame(emb).orderBy("seed", "vec_id").limit(k)).collect()

  // ---- vector math, bit-identical to the Spark expressions ----

  /** `dot_native`: sequential left fold from 0.0. */
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Unit-normalize (zero vectors pass through) — the seed transform. */
  private def unitize(a: Array[Double]): Array[Double] = {
    val n = math.sqrt(a.map(x => x * x).sum)
    if (n == 0) a else a.map(_ / n)
  }

  /** `Similarity.unitVec`: v / sqrt(dot(v, v)) when that norm is > 0. */
  private def unitVec(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(dot(v, v))
    if (n > 0.0) v.map(_ / n) else v
  }

  /** First index of the best `score(i)`, i < k, under Spark's double
    * ordering: `sign` 1 for the max (`array_max`), −1 for the min. */
  private def best(k: Int, sign: Int)(score: Int => Double): Int = {
    var arg = 0
    var top = score(0)
    for (i <- 1 until k) {
      val d = score(i)
      if (sign * compareDoubles(d, top) > 0) { top = d; arg = i }
    }
    arg
  }

  /** `Similarity.assignCells`: the cell of maximal dot. */
  private def nearestCell(v: Array[Double], cents: Array[Array[Double]]): Int =
    best(cents.length, 1)(c => dot(v, cents(c)))

  /** The residual r = unit(v) − centroid(cell) the residual PQ encodes. */
  private def residual(v: Array[Double],
                       cents: Array[Array[Double]]): Array[Double] = {
    val c = cents(nearestCell(v, cents))
    val u = unitVec(v)
    Array.tabulate(u.length)(i => u(i) - c(i))
  }

  /** Squared L2 of sub-vector `s` of `v` to the PQ centroid `c`. */
  private def subDist(v: Array[Double], s: Int, c: Array[Double]): Double = {
    var acc = 0.0
    for (j <- c.indices) {
      val d = v(s * PqSubDim + j) - c(j)
      acc += d * d
    }
    acc
  }

  // ---- per-partition partials and their partition-order merge ----

  /** One partition's Lloyd partial: `n` assigned units, the objective
    * Σ (cosine for IVF, squared error for PQ) and, per centroid, its
    * member count and the Σ of its members. */
  final case class Partial(n: Long, obj: Double, counts: Array[Long],
                           sums: Array[Array[Double]])

  /** Counts and sums over all partials, added in partition order. */
  private def merge(ps: Seq[Partial]): (Array[Long], Array[Array[Double]]) = {
    val counts = new Array[Long](ps.head.counts.length)
    val sums = ps.head.sums.map(s => new Array[Double](s.length))
    for (p <- ps; c <- counts.indices) {
      counts(c) += p.counts(c)
      for (i <- sums(c).indices) sums(c)(i) += p.sums(c)(i)
    }
    (counts, sums)
  }

  /** Spherical k-means: each row to its nearest cell, summing unit
    * vectors and the cosine objective. */
  def ivfPartial(vs: Iterator[Array[Double]],
                 cents: Array[Array[Double]]): Partial = {
    val p = Partial(0L, 0.0, new Array[Long](cents.length),
      cents.map(c => new Array[Double](c.length)))
    vs.foldLeft(p) { (p, v) =>
      if (v == null) p.copy(n = p.n + 1)
      else {
        val cell = nearestCell(v, cents)
        val vn = math.sqrt(dot(v, v))
        p.counts(cell) += 1
        val s = p.sums(cell)
        for (i <- s.indices) s(i) += (if (vn > 0) v(i) / vn else 0.0)
        p.copy(n = p.n + 1,
          obj = p.obj + (if (vn > 0) dot(v, cents(cell)) / vn else 0.0))
      }
    }
  }

  /** The next IVF codebook: each non-empty cell's mean DIRECTION (Σ of
    * the members' unit vectors, re-unitized — summing raw vectors would
    * maximize Σ dot, not the Σ cosine objective the stats track), in
    * cell order. Zero vectors contribute nothing; empty cells drop out. */
  def ivfStep(ps: Seq[Partial]): Array[Array[Double]] = {
    val (counts, sums) = merge(ps)
    sums.indices.filter(counts(_) > 0).map(c => unitize(sums(c))).toArray
  }

  /** Plain-L2 k-means in each of the PqM subspaces at once: centroid
    * (s, kk) is index s·PqK + kk; a row is PqM assigned units. */
  def pqPartial(vs: Iterator[Array[Double]],
                cb: Array[Array[Array[Double]]]): Partial = {
    val p = Partial(0L, 0.0, new Array[Long](PqM * PqK),
      Array.fill(PqM * PqK)(new Array[Double](PqSubDim)))
    vs.foldLeft(p) { (p, v) =>
      if (v == null) p.copy(n = p.n + PqM)
      else (0 until PqM).foldLeft(p.copy(n = p.n + PqM)) { (p, s) =>
        val kk = best(PqK, -1)(k => subDist(v, s, cb(s)(k)))
        p.counts(s * PqK + kk) += 1
        val acc = p.sums(s * PqK + kk)
        for (j <- acc.indices) acc(j) += v(s * PqSubDim + j)
        p.copy(obj = p.obj + subDist(v, s, cb(s)(kk)))
      }
    }
  }

  /** The next PQ codebooks: each non-empty centroid's member mean (sum
    * ÷ count, the `avg` evaluation); an empty one keeps its value. */
  def pqStep(ps: Seq[Partial],
             cb: Array[Array[Array[Double]]]): Array[Array[Array[Double]]] = {
    val (counts, sums) = merge(ps)
    Array.tabulate(PqM, PqK) { (s, kk) =>
      val i = s * PqK + kk
      if (counts(i) > 0) sums(i).map(_ / counts(i).toDouble) else cb(s)(kk)
    }
  }

  // ---- trainers: driver-side rounds over a fetched frame ----

  /** `f` over each partition at once; results in partition order. */
  private def parallel[A, B](parts: Seq[A])(f: A => B): Seq[B] =
    if (parts.size <= 1) parts.map(f)
    else {
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(Future.traverse(parts)(p => Future(f(p))), Duration.Inf)
    }

  private def rounds[M](parts: Seq[Array[Array[Double]]], m0: M, iters: Int)(
      partial: (Iterator[Array[Double]], M) => Partial,
      step: (Seq[Partial], M) => M): M =
    (0 until iters).foldLeft(m0) { (m, _) =>
      step(parallel(parts)(p => partial(p.iterator, m)), m)
    }

  /** The training vectors `f(row)` of each partition. */
  private def vectors(rows: Parts)(
      f: TrainRow => Array[Double]): Seq[Array[Array[Double]]] =
    parallel(rows.toSeq)(_.map(f))

  /** Seeded spherical k-means: the first `cells` rows in seed order,
    * unitized, then `iters` Lloyd rounds. Empty frame → empty codebook. */
  def ivf(rows: Parts, cells: Int, iters: Int): Array[Array[Double]] = {
    val seeds = seedRows(rows.flatten, cells).map(r => unitize(r.v))
    if (seeds.isEmpty) seeds
    else rounds(vectors(rows)(_.v), seeds, iters)(ivfPartial,
      (ps, _) => ivfStep(ps))
  }

  /** PQ's fixed shape: PqM subspaces × PqK centroids of PqSubDim lanes,
    * each seeded by slices of the first PqK seed vectors (cycled). No
    * seed, or one shorter than PqM·PqSubDim lanes (a wrong-dim corpus),
    * gives the empty codebook — every PQ entry point then returns an
    * empty result instead of slicing past the vector. */
  private def pqSeed(seeds: Array[Array[Double]]): Array[Array[Array[Double]]] =
    if (seeds.isEmpty || seeds.head.length < PqM * PqSubDim) Array.empty
    else Array.tabulate(PqM, PqK)((s, kk) =>
      seeds(kk % seeds.length).slice(s * PqSubDim, (s + 1) * PqSubDim))

  private def pq(rows: Parts, iters: Int)(f: TrainRow => Array[Double],
      seed: TrainRow => Array[Double]): Array[Array[Array[Double]]] = {
    val cb = pqSeed(seedRows(rows.flatten, PqK).map(seed))
    if (cb.isEmpty) cb
    else rounds(vectors(rows)(f), cb, iters)(pqPartial, pqStep)
  }

  /** PQ on the unit sphere: seeds unitized, training vectors unit(v). */
  def pqUnit(rows: Parts, iters: Int): Array[Array[Array[Double]]] =
    pq(rows, iters)(r => unitVec(r.v), r => unitize(r.v))

  /** Residual PQ: training vectors AND seeds are the residuals against
    * the IVF codebook `cents`, taken as-is — residuals are not unit
    * vectors, and re-normalizing them would distort exactly the
    * geometry ADC must approximate. */
  def pqResidual(rows: Parts, cents: Array[Array[Double]],
                 iters: Int): Array[Array[Array[Double]]] = {
    val r = (row: TrainRow) => residual(row.v, cents)
    pq(rows, iters)(r, r)
  }

  // ---- the training-contract queries: partials on the executors ----

  /** Per-iteration (units, objective, centroids used) over EVERY row:
    * one `mapPartitions` job per iteration, whose partials (back in
    * partition order) also give the next model. */
  private def stats[M](emb: DataFrame, m0: M, iters: Int)(
      partial: (Iterator[Array[Double]], M) => Partial,
      step: (Seq[Partial], M) => M): Seq[(Long, Double, Int)] = {
    val s = emb.sparkSession
    import s.implicits._
    val vs = emb.select(toDoubleVec(col("embedding"))).as[Array[Double]].rdd
    var m = m0
    (0 until iters).map { it =>
      val cur = m
      val ps = vs.mapPartitions(rows => Iterator(partial(rows, cur)))
        .collect().toSeq
      if (it < iters - 1) m = step(ps, cur)
      (ps.map(_.n).sum, ps.map(_.obj).sum, merge(ps)._1.count(_ > 0))
    }
  }

  /** kmeansTrainStats' rows: a seed job, then [[stats]]. */
  def kmeansStats(emb: DataFrame, cells: Int,
                  iters: Int): Seq[(Long, Double, Int)] = {
    val seeds = seedRowsOf(emb, cells).map(r => unitize(r.v))
    if (seeds.isEmpty) Seq.empty
    else stats(emb, seeds, iters)(ivfPartial, (ps, _) => ivfStep(ps))
  }

  /** pqTrainStats' rows: a seed job, then [[stats]] over unit vectors. */
  def pqStats(emb: DataFrame, iters: Int): Seq[(Long, Double, Int)] = {
    val cb = pqSeed(seedRowsOf(emb, PqK).map(r => unitize(r.v)))
    if (cb.isEmpty) Seq.empty
    else stats(emb, cb, iters)((vs, c) =>
      pqPartial(vs.map(v => if (v == null) null else unitVec(v)), c), pqStep)
  }
}
