package graft.gates

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The audit kernel the hash-checked gates share: prelude counts,
  * content fingerprints, the recall folds against an exact ground-truth
  * set, the recall floor and the overlap of independent audit reads.
  * Each helper runs at most ONE Spark action — the folds return their
  * one-row aggregate lazily, so the caller keeps its single action and
  * can overlap it with another.
  */
object Audit {

  /** Run two INDEPENDENT gate actions concurrently (guide §2.6):
    * Spark's scheduler happily overlaps jobs — actions are only
    * sequential because driver code calls them sequentially — and the
    * episode gates' audit actions are tiny independent reads whose
    * stage tails leave most cores idle. A fresh thread per call (not a
    * pool): Spark's job group/description live in INHERITABLE
    * thread-locals captured at thread creation, so a fresh thread
    * carries THIS call's labels and stays cancellable by the bench's
    * job-group watchdog, where a pooled thread would carry whatever
    * query first created it. Only for order-independent read work —
    * both sides must be pure actions over already-committed state. */
  def parallel[A, B](fa: => A, fb: => B): (A, B) = {
    val ra = new java.util.concurrent.atomic.AtomicReference[
      Either[Throwable, A]]()
    val t = new Thread(() => ra.set(
      try Right(fa) catch { case e: Throwable => Left(e) }),
      "graft-gate-parallel")
    t.setDaemon(true)
    t.start()
    val rb = try Right(fb) catch { case e: Throwable => Left(e) }
    t.join()
    (ra.get.fold(e => throw e, identity),
      rb.fold(e => throw e, identity))
  }

  /** One scan for a gate's prelude scalars: the row count, then the
    * number of rows matching each predicate. */
  def counts(df: DataFrame, preds: Column*): Seq[Long] = {
    val r = df.agg(count(lit(1)),
      preds.map(p => coalesce(sum(p.cast("long")), lit(0L))): _*).head()
    (0 until r.length).map(r.getLong)
  }

  /** Order-free content fingerprint of `df` over `cols`: (row count,
    * Σ xxhash64(cols) as a decimal string). Equal pairs decide multiset
    * equality to the 64-bit content-hash discipline; an empty frame
    * gives (0, "0"). One scan-only aggregate. */
  def fingerprint(df: DataFrame, cols: Seq[String]): (Long, String) =
    unpack(fingerprintRow(df, cols))

  /** [[fingerprint]]'s aggregate with `extra` aggregates riding the
    * same single pass: the row is (count, hash sum, extra…), and
    * [[unpack]] reads the fingerprint off its first two fields. The sum
    * runs in decimal(38,0): an int64 sum of n × xxhash64 values
    * overflows (and ANSI mode makes that an error, not a wrap). */
  def fingerprintRow(df: DataFrame, cols: Seq[String],
                     extra: Column*): Row =
    df.agg(count(lit(1)),
      (sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")) +: extra): _*)
      .head()

  /** (count, hash sum) from fields 0 and 1 of a fingerprint aggregate;
    * a sum over zero rows is NULL and reads as "0". */
  def unpack(r: Row): (Long, String) =
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toString)

  /** Row-set fingerprint of a k-NN probe result over its full
    * (query, nn, rank) triples — one action decides probe equality
    * where a scratch + counts + semi-join form re-ran the probe plan. */
  def probeFingerprint(probe: DataFrame): (Long, String) =
    fingerprint(probe, Seq("query_id", "nn_id", "rn"))

  /** Left-join fold of `actual` against a ground-truth set of `keys`
    * rows, as a lazy one-row aggregate: `n` (actual rows), `hits`
    * (actual rows found in `truth`), then `extra`. Count-exact only
    * while `truth` is unique per `keys` (the knnBruteForce contract) —
    * a duplicated truth key would multiply actual rows. */
  def hits(actual: DataFrame, truth: DataFrame, keys: Seq[String],
           extra: Column*): DataFrame =
    actual.join(truth.withColumn("__hit", lit(1L)), keys, "left")
      .agg(count(lit(1)).as("n"),
        (coalesce(sum("__hit"), lit(0L)).as("hits") +: extra): _*)

  /** Full-join fold of `actual` against a ground-truth set of `keys`
    * rows, as a lazy one-row aggregate: `n` (actual rows), `hits` (rows
    * on both sides), `n_truth` (truth rows), then `extra`. Both sides
    * must be unique per `keys`, so the join holds each matched,
    * actual-only and truth-only row exactly once. */
  def overlap(actual: DataFrame, truth: DataFrame, keys: Seq[String],
              extra: Column*): DataFrame =
    actual.withColumn("__a", lit(1L))
      .join(truth.withColumn("__hit", lit(1L)), keys, "full")
      .agg(coalesce(sum("__a"), lit(0L)).as("n"),
        (coalesce(sum(col("__a") * col("__hit")), lit(0L)).as("hits") +:
          coalesce(sum("__hit"), lit(0L)).as("n_truth") +: extra): _*)

  /** 1 when `hits / denom` clears `floor`; an empty ground truth
    * (`denom == 0`) passes vacuously. */
  def recallOk(hits: Long, denom: Long, floor: Double): Int =
    if (denom == 0L) 1 else if (hits.toDouble / denom >= floor) 1 else 0

  /** Entries a full k-NN list holds over `n` vectors: min(k, n − 1). */
  def kEff(k: Int, n: Long): Long = math.min(k.toLong, math.max(n - 1, 0L))

  /** The deterministic `n`-vector recall sample (lowest
    * xxhash64(vec_id, 99), id tiebreak): the exact ground truth is
    * sample-bounded, so a gate costs n·N instead of N². */
  def recallSample(emb: DataFrame, n: Int): DataFrame =
    emb.orderBy(xxhash64(col("vec_id"), lit(99)), col("vec_id")).limit(n)
}
