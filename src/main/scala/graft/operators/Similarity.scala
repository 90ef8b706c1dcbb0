package graft.operators

import graft.functions.VectorFunctions._
import graft.gates.Audit
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Three tiers:
  *  - `knnBruteForce`: exact cosine top-k — the correctness baseline.
  *    The (small) query set is broadcast against the corpus, so the scan
  *    is one pass, no shuffle of the corpus side; per-partition top-k via
  *    window rank on a bounded candidate set.
  *  - `knnLsh`: random-hyperplane LSH — candidates must share one of the
  *    banded signature chunks (bucket equi-join, no cross join). The
  *    signature is one native codegen'd expression (LshSignBits) packing
  *    all sign bits into a long; band keys are shift-and-mask on that
  *    primitive.
  *  - `knnIvf`: inverted-file cells — the 100 TB path: the cell id is a
  *    pure per-row argmax against driver-broadcast centroids (a trained
  *    codebook is metadata, not data), so assignment adds NO shuffle and
  *    the cell id can double as a storage partition column so a probe
  *    reads only nprobe partitions.
  */
object Similarity {

  import graft.functions.VectorExpressions.dot_native

  /** Exact cosine top-k neighbors for each query vector (broadcast).
    * Norms precomputed per side; per-pair dot is the codegen'd native
    * expression (graft.functions.VectorExpressions).
    *
    * CONTRACT the gate audits rest on: output rows are UNIQUE per
    * (query_id, nn_id) — row_number() emits each (query, rank) once and
    * a corpus id joins a query at most once — and the folded left-join
    * audits (knn/forget/append/reindex/lifecycle gates, r19 ADVICE) are
    * only count-exact under that uniqueness. Replacing row_number with
    * rank()/dense_rank(), or feeding a corpus with duplicate vec_ids,
    * would silently inflate every audit count downstream. */
  def knnBruteForce(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // norms floored at 1e-9 (the normalizeQuantize convention): a zero
    // vector would otherwise make the cosine division an ANSI
    // DIVIDE_BY_ZERO error and crash the scan — floored, it scores 0
    // against everything (DegenerateSpec pins the no-throw contract)
    def side(df: DataFrame, id: String, v: String, n: String) =
      df.select(col("vec_id").as(id), toDoubleVec(col("embedding")).as(v))
        .withColumn(n,
          greatest(sqrt(dot_native(col(v), col(v))), lit(1e-9)))
    val corpus = side(emb, "nn_id", "vc", "nc")
    val q = side(queries, "query_id", "vq", "nq")
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("nn_id"))
    corpus.join(broadcast(q), col("query_id") =!= col("nn_id"))
      .withColumn("sim",
        round(dot_native(col("vq"), col("vc")) / (col("nq") * col("nc")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("nn_id"), col("sim"), col("rn"))
  }

  /** IVF (inverted-file) ANN: partition the corpus into ≤`cells` cells
    * around centroids, search only the `nprobe` cells nearest each query.
    *
    * Centroids: `cells` corpus vectors picked by deterministic hash of
    * vec_id (reproducible), refined with Lloyd rounds (per-cell mean
    * direction) — C × dim doubles of model metadata, the IVF codebook,
    * trained on the driver by [[Lloyd]] over ONE fetch of the corpus.
    * Cell assignment is a per-row argmax over dot products with the
    * unit-normalized codebook as literal arrays: a pure map fused into
    * the scan — no explode, no window, no shuffle, any embedding dim.
    * Probe selection sorts a C-element struct array per query row —
    * again pure column math. The only shuffle left is the final
    * per-query top-k window on the bounded candidate set. */

  /** Above this cell count, centroid-distance math switches from the
    * per-centroid expression expansion (C separate codegen'd dot_native
    * children — the fastest shape whole-stage codegen produces, and the
    * right one at the 16-cell test default) to ONE higher-order
    * transform over a single 2-D centroid literal. At the production
    * O(√N) cell counts [[scaledCells]] provisions, C inline dot bodies
    * would blow the generated method past Janino's 64 KB limit (and the
    * class constant pool with C×dim literal doubles), collapsing the
    * whole stage to interpreted fallback — the HOF keeps the stage
    * codegen'd and only the centroid loop itself interpreted
    * (dot_native still evaluates its tight nullSafeEval loop). */
  private val HofCellThreshold = 64

  /** All-cells dot products of `v` against the codebook — hybrid tier
    * per [[HofCellThreshold]]. */
  private def centDots(v: Column, cents: Array[Array[Double]]): Column =
    if (cents.length <= HofCellThreshold)
      array(cents.toIndexedSeq.map(c =>
        dot_native(v, typedlit(c.toSeq))): _*)
    else
      transform(typedlit(cents.map(_.toSeq).toSeq), c => dot_native(v, c))

  /** One row per probed cell of `v`: its `n` nearest cells by dot with
    * the codebook — the (d, cell) struct array ([[centDots]]' sortable
    * form, same hybrid tier) sorted descending, sliced and exploded;
    * per-row math, no window. The one probe-selection expression:
    * every probe plan and [[probeCellSet]] use it, so they pick the
    * same cells under the same tie-breaks. */
  private def probeCells(v: Column, cents: Array[Array[Double]],
                         n: Int): Column = {
    val structs =
      if (cents.length <= HofCellThreshold)
        array(cents.indices.map(i =>
          struct(dot_native(v, typedlit(cents(i).toSeq)).as("d"),
            lit(i).as("cell"))): _*)
      else
        transform(typedlit(cents.map(_.toSeq).toSeq), (c, i) =>
          struct(dot_native(v, c).as("d"), i.as("cell")))
    explode(slice(reverse(array_sort(structs)), 1, n))
  }

  /** Nearest cell by cosine = argmax of dot with UNIT-norm centroids (the
    * row's own norm is constant across cells); ties resolve to the first
    * (lowest) cell id via array_position — deterministic. Keeps the
    * winning dot as `best_dot` (the spherical k-means objective's per-row
    * term); callers that only need the cell drop it. Pure map fused into
    * the scan — no explode, no window, no shuffle, any embedding dim. */
  private def assignCells(df: DataFrame,
                          cents: Array[Array[Double]]): DataFrame = {
    val dots = centDots(col("v"), cents)
    df.withColumn("__d", dots)
      .withColumn("cell",
        (array_position(col("__d"), array_max(col("__d"))) - 1).cast("int"))
      .withColumn("best_dot", array_max(col("__d")))
      .drop("__d")
  }

  /** Default codebook shape is test-scale: 16 cells over a few-hundred-row
    * corpus needs half of them probed for recall parity with the LSH tier
    * (measured recall@5 0.82/0.90 at sf0.01/0.001 with 3 Lloyd
    * iterations, one-off sweep). At 100 TB, cells grows ~√N so
    * nprobe stays a small constant FRACTION of a much larger codebook and
    * the probe still reads only nprobe partitions. */
  /** Seeded-init + Lloyd-refined IVF codebook of a corpus — the shared
    * trainer behind [[knnIvf]], [[cellAssignments]] and [[ivfPqIndex]].
    * Empty corpus → empty codebook. The rounds run on the driver
    * ([[Lloyd.ivf]]) over the corpus's training rows: every row up to
    * 2·target rows, past that a deterministic hash-sample of ~target
    * (target = max(50 000, 40·cells)), so the driver holds at most
    * 2·max(50 000, 40·cells) rows × dim doubles while it trains. */
  private def trainIvf(c: Corpus, cells: Int,
                       lloydIters: Int): Array[Array[Double]] =
    ivfModelCache.computeIfAbsent((c.ivfKey, cells, lloydIters),
      _ => Lloyd.ivf(c.rows(Lloyd.target(cells)), cells, lloydIters))

  /** Per-JVM trained-model registry — a codebook is a PURE FUNCTION of
    * (corpus content, hyperparameters), so retraining it in every query
    * of a session is pure job-count waste (the ANN corpora are small;
    * the cost is Spark job orchestration, not data). Keyed by a content
    * fingerprint — row count + order-independent sum of per-row
    * xxhash64 — which (unlike plan-identity keys) cannot confuse two
    * in-memory test frames that share a schema but differ in rows; a
    * [[Corpus]] takes both of its keys in one aggregate. The training-
    * CONTRACT queries (kmeansTrainStats / pqTrainStats) deliberately
    * bypass the cache: their per-iteration output IS the point. At
    * production scale the same artifact lives in a model store; this is
    * the in-session equivalent (the bpeCache precedent). */
  private def corpusFp(df: DataFrame, cols: Seq[String]): (Long, String) =
    // the decimal(20,0) cast (not Audit.fingerprint's 38) keys the
    // registries: it is part of every cached model's identity
    Audit.unpack(df.agg(count(lit(1)),
      sum(xxhash64(cols.map(col): _*).cast("decimal(20,0)"))).head())
  private val ivfModelCache = new java.util.concurrent.ConcurrentHashMap[
    ((Long, String), Int, Int), Array[Array[Double]]]()
  private val pqModelCache = new java.util.concurrent.ConcurrentHashMap[
    ((Long, String), Int), Array[Array[Array[Double]]]]()
  private val ivfPqIndexCache = new java.util.concurrent.ConcurrentHashMap[
    ((Long, String), Int, Int, Int, Boolean),
    (Array[Array[Double]], Array[Array[Array[Double]]], DataFrame)]()

  /** A corpus as the trainers see it: its row count and both registry
    * keys from ONE aggregate — `ivfKey` fingerprints (vec_id, decoded
    * vector), `pqKey` (vec_id, embedding), each byte-identical to its
    * [[corpusFp]] — and its training rows, fetched at most once and
    * shared by every trainer of the call (fetched again only when a
    * later trainer's sample bound keeps rows an earlier fetch dropped). */
  private final class Corpus(emb: DataFrame) {
    private val r = emb.agg(count(lit(1)),
      sum(xxhash64(col("vec_id"), toDoubleVec(col("embedding")))
        .cast("decimal(20,0)")),
      sum(xxhash64(col("vec_id"), col("embedding")).cast("decimal(20,0)")))
      .head()
    val n: Long = r.getLong(0)
    private def key(i: Int): (Long, String) =
      (n, if (r.isNullAt(i)) "0" else r.getDecimal(i).toString)
    val ivfKey: (Long, String) = key(1)
    val pqKey: (Long, String) = key(2)

    private var fetched: Option[(Long, Lloyd.Parts)] = None
    def rows(target: Long): Lloyd.Parts = synchronized {
      fetched match {
        case Some((t, rs)) if t >= target || n <= 2 * t =>
          Lloyd.sample(rs, n, target)
        case _ =>
          val rs = Lloyd.fetch(emb, n, target)
          fetched = Some((target, rs))
          rs
      }
    }
  }

  def knnIvf(emb: DataFrame, queries: DataFrame, k: Int,
             cells: Int = 16, nprobe: Int = 8, lloydIters: Int = 3): DataFrame = {
    val e = emb.select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
    val refined = trainIvf(new Corpus(emb), cells, lloydIters)
    if (refined.isEmpty) {
      // degenerate empty corpus: no centroids to train — empty result
      // with the contract schema instead of a driver crash
      val s = emb.sparkSession
      import s.implicits._
      return Seq.empty[(Long, Long, Double, Int)]
        .toDF("query_id", "nn_id", "sim", "rn")
    }
    knnIvfWith(e, refined, queries, k, nprobe)
  }

  /** The probe phase of [[knnIvf]] against an already-trained codebook —
    * split out so [[knnRecallGates]] can train each model ONCE and share
    * it across tiers (the gate ran every tier's trainer separately and
    * spent 2× its time re-deriving identical models). */
  private def knnIvfWith(e: DataFrame, refined: Array[Array[Double]],
                         queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val assigned = assignCells(e, refined).drop("best_dot")
      // 1e-9 norm floor: zero vectors must not turn the cosine into an
      // ANSI division error (knnBruteForce's comment)
      .withColumn("norm",
        greatest(sqrt(dot_native(col("v"), col("v"))), lit(1e-9)))

    val q = queries.select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
    val probes = q
      .withColumn("probe", probeCells(col("v"), refined, nprobe))
      .select(col("vec_id").as("query_id"), col("v").as("vq"),
        greatest(sqrt(dot_native(col("v"), col("v"))), lit(1e-9)).as("nq"),
        col("probe.cell").as("cell"))

    // each corpus vector lives in exactly one cell and a query probes
    // distinct cells, so a (query, nn) pair appears at most once — no
    // distinct pass needed
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("nn_id"))
    assigned.select(col("vec_id").as("nn_id"), col("v").as("vc"),
        col("norm").as("nc"), col("cell"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("nn_id"))
      .withColumn("sim",
        round(dot_native(col("vq"), col("vc")) / (col("nq") * col("nc")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("nn_id"), col("sim"), col("rn"))
  }

  /** Multi-probe cell assignment backing semantic dedup: trains the
    * seeded spherical codebook ([[trainIvf]]) and
    * assigns every vector to its `probes` nearest cells. Multi-probe
    * trades duplicate candidate work (×probes) for boundary recall — a
    * τ-pair split across two cells is still co-bucketed when either
    * member's probe set reaches the other's home cell. Assignment is the
    * same scan-fused per-row struct-sort as the IVF tier: no explode of
    * the corpus against the codebook, no shuffle. Returns one row per
    * (vector, probed cell): vec_id, v (double vector), norm, cell. */
  private[operators] def cellAssignments(emb: DataFrame, cells: Int,
      lloydIters: Int, probes: Int): DataFrame = {
    val e = emb.select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
    val refined = trainIvf(new Corpus(emb), cells, lloydIters)
    if (refined.isEmpty)
      return e.withColumn("norm", lit(0.0))
        .withColumn("cell", lit(0)).limit(0)
    e.withColumn("norm",
        greatest(sqrt(dot_native(col("v"), col("v"))), lit(1e-9)))
      .withColumn("probe", probeCells(col("v"), refined, probes))
      .select(col("vec_id"), col("v"), col("norm"),
        col("probe.cell").as("cell"))
  }

  /** Seeded spherical k-means training (Lloyd's) with a driver-checkable
    * convergence contract — the codebook trainer behind [[knnIvf]],
    * exposed standalone with multiple refinement iterations. Emits one
    * row per iteration: every vector assigned (`n_assigned` — exact,
    * SQL-recomputable), cell usage within bounds, and the spherical
    * objective (Σ cos to assigned centroid) non-decreasing — Lloyd's
    * guarantees monotonicity exactly (assignment maximizes per row,
    * mean-direction update maximizes per cell), so `improved` is a real
    * invariant, not a hope. It trains on EVERY row (the oracle counts
    * all embeddings): one seed job, then one `mapPartitions` job per
    * iteration running [[Lloyd]]'s per-partition partial, whose merge
    * gives both the iteration's stats and the next codebook. Float-only
    * outputs stay OUT of the hashed columns (flags + exact counts
    * only). */
  def kmeansTrainStats(emb: DataFrame, cells: Int = 8,
                       iters: Int = 3): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    var prevObj = Double.NegativeInfinity
    Lloyd.kmeansStats(emb, cells, iters).zipWithIndex.map {
      case ((n, obj, used), it) =>
        val row = (it, n,
          if (used >= 1 && used <= cells) 1 else 0,
          if (obj >= prevObj - 1e-6) 1 else 0)
        prevObj = obj
        row
    }.toDF("iter", "n_assigned", "cells_ok", "improved")
  }

  /** L2-normalize + symmetric int8 quantization of the embedding column —
    * the storage/bandwidth tier for vector corpora at scale (4 bytes per
    * lane → 1, cosine preserved to ~0.4% per lane). Per-row array math
    * fused into the scan, no shuffle; the one-pass-per-row HOFs are fine
    * here because this is O(rows), not a pairwise path. The output
    * projects to scalars (norm + lane checksum/extrema): hash-safe for
    * the driver's pandas compare, with lane-level round-trip accuracy
    * pinned in SimilaritySpec. Quantization divides by the 6-dp-rounded
    * norm so the divisor is bit-identical in any engine that agrees on
    * the norm at 6 dp (guarded away from zero for degenerate vectors). */
  def normalizeQuantize(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
      .withColumn("norm",
        greatest(round(sqrt(dot_native(col("v"), col("v"))), 6), lit(1e-9)))
      // clamp to ±127 like any real int8 quantizer: inactive for sane
      // vectors (|lane| ≤ norm), but sub-micro norms round to the 1e-9
      // floor and would otherwise overflow the lane range
      .withColumn("qv", transform(col("v"),
        x => least(greatest(
          floor(x / col("norm") * lit(127d) + lit(0.5)), lit(-127L)),
          lit(127L)).cast("int")))
      .select(col("vec_id"), col("norm"),
        aggregate(col("qv"), lit(0L), (a, x) => a + x).as("q_sum"),
        array_min(col("qv")).as("q_min"),
        array_max(col("qv")).as("q_max"))

  /** Driver-checkable ANN invariants: one row per approximate method with
    * result-shape counts and a recall floor vs the exact brute-force tier,
    * all computed declaratively (the only "collect" is the final tiny
    * result). The oracle re-states the invariant as constants — the row
    * hash-matches exactly when every query got its full k and recall@k
    * clears the floor, turning the non-SQL-expressible LSH/IVF internals
    * into a DuckDB-checked row. Both tiers are fully deterministic
    * (seeded hashes, argmax with ordered tie-break), so the measured
    * recalls (lsh 0.82/0.80, ivf 0.82/0.90 at sf0.01/0.001) are fixed
    * values per corpus, and the 0.6 floors sit under them with real
    * margin — corpus regeneration, not host variance, is the only
    * thing that can move this row. */
  def knnRecallGates(emb: DataFrame, queries: DataFrame, k: Int,
                     lshFloor: Double = 0.6,
                     ivfFloor: Double = 0.6,
                     pqFloor: Double = 0.6,
                     ivfpqFloor: Double = 0.6,
                     ivfpqResFloor: Double = 0.6): DataFrame = {
    // ONE brute-force scan serves every approximate tier's recall join:
    // the exact top-k is scratch-materialized (nq·k rows) instead of
    // re-deriving the full corpus × queries pair scan per gate — with
    // four tiers that was the gate's dominant cost (2.2 → 5.0 s across
    // r9-r10, growing per tier; the ground truth is tier-invariant)
    val bf = Checkpoints.scratch(
      knnBruteForce(emb, queries, k).select("query_id", "nn_id"))
    def gate(name: String, ann: DataFrame, floor: Double): DataFrame =
      Audit.hits(ann.select("query_id", "nn_id"), bf, Seq("query_id", "nn_id"),
          count_distinct(col("query_id")).as("n_queries"))
        .select(lit(name).as("method"), col("n").as("n_results"),
          col("n_queries"),
          (col("n") === col("n_queries") * k).cast("int").as("full_k"),
          (col("hits").cast("double") >=
            lit(floor) * col("n_queries") * k).cast("int").as("recall_ok"))
    // shared-model path: train the IVF codebook and the PQ codebooks
    // ONCE, encode the corpus ONCE per encoding, and run every probe
    // query against the shared models — identical outputs to the
    // standalone tiers (same deterministic trainers, same parameters),
    // at one training cost instead of two of each. The pq and ivfpq
    // tiers read the SAME raw index: pq is its every-cell probe.
    // Degenerate corpora fall back to the standalone entries, which
    // handle empties.
    // one Corpus: one key aggregate (which also gives nCorpus) and one
    // training fetch serve every trainer below
    val corpus = new Corpus(emb)
    val e = emb.select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
    val cents = trainIvf(corpus, 16, 3)
    val cb = if (cents.isEmpty) Array.empty[Array[Array[Double]]]
             else pqTrain(corpus, PqIters)
    // both composed tiers run the SHIPPED scaling policies (cells
    // ~4√N, ln-scaled rerank, candidate-mass nprobe) — the gate
    // measures the exact configuration the gated queries deploy, not a
    // fixed test point. The plain-ivf tier keeps its own 16-cell
    // codebook (knnIvf's gated defaults).
    val nCorpus = corpus.n
    val cellsAuto = scaledCells(nCorpus)
    val rr = scaledRerank(nCorpus)
    val np = scaledNprobe(nCorpus, cellsAuto, rr)
    val (ivf, ivfpq, ivfpqRes, lsh, pq) =
      if (cents.isEmpty || cb.isEmpty)
        (knnIvf(emb, queries, k), knnIvfPq(emb, queries, k),
          knnIvfPq(emb, queries, k, residual = true),
          knnLsh(emb, queries, k), knnPq(emb, queries, k))
      else {
        // the ivfpq_res tier's RESIDUAL codes are a different encoding
        // from the raw unit-sphere codes, so each tier reads its own
        // cache-backed artifact (each encodes exactly once per JVM)
        val (centsIdx, cbIdx, index) = ivfPqIndexOf(corpus, emb, cellsAuto)
        val (_, cbRes, indexRes) =
          ivfPqIndexOf(corpus, emb, cellsAuto, residual = true)
        (knnIvfWith(e, cents, queries, k, 8),
          if (cbIdx.isEmpty) knnIvfPq(emb, queries, k)
          else knnIvfPqWith(emb, index, centsIdx, cbIdx, queries, k, np,
            rr, residual = false),
          if (cbRes.isEmpty) knnIvfPq(emb, queries, k, residual = true)
          else knnIvfPqWith(emb, indexRes, centsIdx, cbRes, queries, k,
            np, rr, residual = true),
          knnLsh(emb, queries, k),
          knnIvfPqWith(emb, index, centsIdx, cbIdx, queries, k,
            centsIdx.length, PqRerank, residual = false))
      }
    gate("ivf", ivf, ivfFloor)
      .unionAll(gate("ivfpq", ivfpq, ivfpqFloor))
      .unionAll(gate("ivfpq_res", ivfpqRes, ivfpqResFloor))
      .unionAll(gate("lsh", lsh, lshFloor))
      .unionAll(gate("lsh_mp",
        knnLsh(emb, queries, k, multiProbe = true), lshFloor))
      .unionAll(gate("pq", pq, pqFloor))
      .orderBy("method")
  }

  /** ANN top-k via banded LSH buckets; recall depends on nBits/bands.
    * Candidates = corpus vectors sharing ≥1 signature band with the
    * query; exact cosine re-rank (norms precomputed pre-explode) on that
    * bounded set. The signature is the fused native LshSignBits
    * expression — one primitive pass per vector, packed in a long, so a
    * band key is a shift-and-mask, not array slicing.
    *
    * Defaults from a measured sweep (random-vector
    * corpus — LSH's worst case): r = nBits/bands sets per-band bucket
    * count 2^r (candidate selectivity), bands sets the OR-chances
    * (recall). r=4, 12 bands gives recall@5 0.82/0.92 at sf0.01/0.1 at
    * the same wall time as 8 bands. At 100 TB raise r (more selective
    * buckets) and bands together, or multi-probe neighboring buckets —
    * recall per shuffled candidate is the metric that matters there. */
  def knnLsh(emb: DataFrame, queries: DataFrame, k: Int,
             nBits: Int = 48, bands: Int = 12,
             multiProbe: Boolean = false): DataFrame = {
    import graft.functions.LshExpression.lsh_sign_bits
    require(nBits % bands == 0)
    val r = nBits / bands
    val mask = (1L << r) - 1
    def banded(df: DataFrame, idCol: String, vecCol: String, nCol: String) =
      df.select(col("vec_id").as(idCol),
          toDoubleVec(col("embedding")).as(vecCol))
        .withColumn(nCol,
          greatest(sqrt(dot_native(col(vecCol), col(vecCol))), lit(1e-9)))
        .withColumn("sig", lsh_sign_bits(col(vecCol), nBits))
        .withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
        .withColumn("band_key",
          call_function("shiftrightunsigned", col("sig"),
            col("band") * lit(r)).bitwiseAND(lit(mask)))
        .drop("sig")
    val corpus = banded(emb, "nn_id", "vc", "nc")
      .withColumnsRenamed(Map("band" -> "c_band", "band_key" -> "c_key"))
    // Multi-probe (Lv et al., VLDB 2007): besides its own bucket, a
    // query probes every Hamming-1 perturbation of each band key — a
    // near-miss pair usually differs in ONE sign bit of a band, so
    // (1+r)× more QUERY-side probes buy back the recall a bigger
    // index would, while the STORED index is untouched (the production
    // argument: recall tuning without re-banding 100 TB of signatures;
    // measured recall@5 0.80/0.82/0.92 → 1.0 at ALL of
    // sf0.001/0.01/0.1, no measurable wall cost).
    // Query-side rows grow ×(1+r) — nq-bounded.
    val qBanded = banded(queries, "query_id", "vq", "nq")
    val q =
      if (!multiProbe) qBanded
      else qBanded.withColumn("band_key",
        explode(array(col("band_key") +:
          (0 until r).map(i =>
            col("band_key").bitwiseXOR(lit(1L << i))): _*)))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("nn_id"))
    // sim is computed BEFORE the multi-band dedup so the distinct
    // shuffles three scalar columns, not two full vectors per row — the
    // extra dot products (≤ bands per pair, codegen'd) are far cheaper
    // than shuffling ~1 KB of vector payload per candidate
    corpus.join(broadcast(q),
        col("c_band") === col("band") && col("c_key") === col("band_key") &&
        col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"),
        round(dot_native(col("vq"), col("vc")) / (col("nq") * col("nc")), 6)
          .as("sim"))
      .distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("nn_id"), col("sim"), col("rn"))
  }

  // ---- product quantization (Jégou et al., TPAMI 2011) ----

  /** PQ shape for the 64-dim testdata embeddings: 16 subspaces × 4
    * lanes, 16 centroids each → a vector compresses to 16 4-bit codes
    * (8 bytes vs 256 raw floats — the memory tier that makes
    * billion-vector ANN fit; the finer 16×4 split over the initial 8×8
    * bought shortlist-50 recall 0.64 → 0.90 on the testdata). */
  val PqM = 16
  val PqSubDim = 4
  val PqK = 16
  val PqIters = 3
  /** [[knnPq]]'s ADC shortlist depth, which its recall-gate row replays. */
  private val PqRerank = 50

  import graft.functions.TextFunctions.letCol

  /** Unit-normalize a vector column (zero vectors pass through) —
    * PQ trains and encodes ON THE UNIT SPHERE so ADC's L2 ranking
    * agrees with the brute-force tier's cosine ranking (raw-L2 PQ
    * against a cosine baseline measured recall 0.08). The vector and
    * its norm are let-bound so the norm is computed once per row, not
    * once per lane. */
  private def unitVec(v: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    letCol(v) { vv =>
      letCol(sqrt(dot_native(vv, vv))) { n =>
        when(n > lit(0.0d), transform(vv, x => x / n)).otherwise(vv)
      }
    }

  /** Train the M per-subspace codebooks: seeded init (the first PqK
    * vectors in hash order, unitized, seed every subspace with their
    * slices) + `iters` Lloyd steps over the unit vectors, run on the
    * driver by [[Lloyd.pqUnit]]. Plain L2 (not spherical): PQ
    * quantizes residual geometry, not direction. It trains on the same
    * sample bound as the IVF codebook at PqK centroids: every row up to
    * 100 000, past that a deterministic hash-sample of ~50 000. Empty or
    * wrong-dim (fewer than PqM·PqSubDim lanes) corpus → empty model. */
  def pqTrain(emb: DataFrame, iters: Int = PqIters)
      : Array[Array[Array[Double]]] =
    pqTrain(new Corpus(emb), iters)

  private def pqTrain(c: Corpus, iters: Int): Array[Array[Array[Double]]] =
    pqModelCache.computeIfAbsent((c.pqKey, iters),
      _ => Lloyd.pqUnit(c.rows(Lloyd.target(PqK)), iters))

  /** Per-iteration PQ training contract (the kmeansTrainStats pattern):
    * every sub-vector assigned (exact count), cells within bounds, and
    * the total quantization error non-increasing — Lloyd's monotonicity
    * in plain L2. Trains on every row, one seed job then one
    * `mapPartitions` job per iteration. Float error stays out of the
    * hashed columns. */
  def pqTrainStats(emb: DataFrame, iters: Int = PqIters): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    var prevErr = Double.MaxValue
    Lloyd.pqStats(emb, iters).zipWithIndex.map {
      case ((n, err, used), it) =>
        // relative tolerance: the summed squared-L2 error GROWS with the
        // corpus, so a fixed 1e-6 slack would be swamped by float
        // accumulation noise at larger SFs and flip the hashed flag with
        // no training bug (ADVICE r10); 1e-9 relative tracks the error's
        // own scale, the absolute term covers prevErr ≈ 0
        val row = (it, n,
          if (used >= 1 && used <= PqM.toLong * PqK) 1 else 0,
          if (err <= prevErr * (1 + 1e-9) + 1e-6) 1 else 0)
        prevErr = err
        row
    }.toDF("iter", "n_assigned", "cells_ok", "improved")
  }

  /** PQ codes of one vector: M argmins against the literal codebook —
    * scan-fused per-row math, no explode (the encode path a 100 TB
    * corpus runs once and stores). */
  private def pqCodes(v: org.apache.spark.sql.Column,
                      cb: Seq[Seq[Seq[Double]]]): org.apache.spark.sql.Column = {
    val cbl = typedlit(cb)
    // let-bind at every reuse level: the vector (used by M·K zips), the
    // per-subspace slice (used by K zips), and the distance array (used
    // by argmin twice) — unbound, the encode measured 53 s for 500 rows
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

  /** ANN top-k via PQ codes + exact re-rank: the IVFADC probe
    * ([[knnIvfPq]]) with every cell probed — ADC is IVFADC at
    * nprobe = cells (Jégou et al. 2011). It reads the raw 16-cell
    * [[ivfPqIndex]]: (1) the corpus is scanned as CODES
    * ONLY, approx distance = Σ over subspaces of the query's
    * precomputed [M][K] table entry at that subspace's code (queries
    * broadcast; the corpus never shuffles and never touches its
    * floats) — each corpus row lives in exactly one cell, so probing
    * every cell scores every row once; (2) the ADC top-`rerank`
    * shortlist per query — nq·rerank rows, driver-bounded — fetches
    * its exact vectors via a broadcast join and re-ranks by true
    * cosine. ADC distortion with a 16×16 codebook leaves shortlist-50
    * recall at 0.90 on the testdata while raw ADC top-5 sat at ~0.3 —
    * re-rank is where PQ recall comes from, not a luxury. */
  def knnPq(emb: DataFrame, queries: DataFrame, k: Int,
            iters: Int = PqIters, rerank: Int = PqRerank): DataFrame =
    // nprobe = cells: a codebook never has more cells than asked for
    knnIvfPq(emb, queries, k, cells = 16, nprobe = 16, iters = iters,
      rerank = rerank)

  /** Margin-based bitext mining (Artetxe & Schwenk 2019 — the
    * LASER/CCMatrix parallel-corpus miner): candidate translation
    * pairs between two languages scored by the RATIO margin
    * cos(x, y) / (½·(avgTopK(x→tgt) + avgTopK(y→src))), which
    * normalizes away hubness — a vector close to EVERYTHING gets a
    * high denominator and stops dominating, the failure mode raw
    * cosine thresholds can't fix. Returns each source doc's
    * best-margin target with margin ≥ `marginFloor`.
    *
    * Engine-exact arithmetic: cosines round to 6 dp; top-k
    * neighborhood means are summed as cosine-MICROS (exact int64,
    * order-independent — a float avg's summation order differs
    * across engines at the last ulp); the margin itself is the
    * integer floor division cos_micro·2k·1e6 ÷ (sa + sb), emitted as
    * `margin_micros` — so the whole ranking hash-checks.
    *
    * This is the exact all-pairs tier (src × tgt cosine, target side
    * broadcast) — the oracle-checkable baseline. At 100 TB margins
    * need only each vector's top-k cross-lingual neighborhood, so
    * the production path mines with 2 ANN probes per doc
    * ([[knnIvfPq]] per side) and this tier gates it on samples.
    *
    * CONTRACT the gate audits rest on: output rows are UNIQUE per
    * (src_id, tgt_id) — the final `rn === 1` keeps one row per src —
    * and bitextAnnGate's folded left-join audit (r19 ADVICE) is only
    * count-exact under that uniqueness; a tie-producing change to the
    * final window would silently inflate nAnn/nHit downstream. */
  def mineBitext(s: SparkSession, dir: String, srcLang: String = "en",
                 tgtLang: String = "de", k: Int = 4,
                 marginFloor: Double = 1.0): DataFrame = {
    import graft.sources.Tables
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val emb = Tables.embeddings(s, dir)
    def side(l: String, id: String, v: String) =
      emb.join(docs.filter(col("lang") === l)
          .select(col("doc_id").as("vec_id")), Seq("vec_id"))
        .select(col("vec_id").as(id), toDoubleVec(col("embedding")).as(v))
    val a = side(srcLang, "src_id", "va")
      .withColumn("na",
        greatest(sqrt(dot_native(col("va"), col("va"))), lit(1e-9)))
    val b = side(tgtLang, "tgt_id", "vb")
      .withColumn("nb",
        greatest(sqrt(dot_native(col("vb"), col("vb"))), lit(1e-9)))
    val pairs = a.crossJoin(broadcast(b))
      .withColumn("cos",
        round(dot_native(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .withColumn("cos_micro", round(col("cos") * 1e6).cast("long"))
      .select("src_id", "tgt_id", "cos", "cos_micro")
    val wa = Window.partitionBy("src_id").orderBy(desc("cos"), asc("tgt_id"))
    val wb = Window.partitionBy("tgt_id").orderBy(desc("cos"), asc("src_id"))
    val ranked = pairs
      .withColumn("ra", row_number().over(wa))
      .withColumn("rb", row_number().over(wb))
      .localCheckpoint(true) // feeds both neighborhood sums + the margin
    val sa = ranked.filter(col("ra") <= k)
      .groupBy("src_id").agg(sum("cos_micro").as("sa"))
    val sb = ranked.filter(col("rb") <= k)
      .groupBy("tgt_id").agg(sum("cos_micro").as("sb"))
    val wm = Window.partitionBy("src_id")
      .orderBy(desc("margin_micros"), asc("tgt_id"))
    ranked.join(sa, "src_id").join(sb, "tgt_id")
      .filter(col("sa") + col("sb") > 0)
      .withColumn("margin_micros",
        expr(s"(cos_micro * ${2L * k} * 1000000) div (sa + sb)"))
      .withColumn("rn", row_number().over(wm))
      .filter(col("rn") === 1 &&
        col("margin_micros") >= math.round(marginFloor * 1e6))
      .select("src_id", "tgt_id", "cos", "margin_micros")
  }

  // ---- IVF × PQ: the composed production index (IVFADC) ----

  /** The IVF-PQ INDEX: every corpus vector's IVF cell id plus its PQ
    * codes — the table a 100 TB deployment builds ONCE and stores
    * `partitionBy("cell")`, so a probe opens only its nprobe cell
    * directories and reads 8-byte code rows, never raw vectors (the
    * difference between "scan all codes" (knnPq) / "read nprobe cells
    * of raw floats" (knnIvf) and "read nprobe cells of CODES" — Jégou
    * et al. 2011's IVFADC). Returns (ivf centroids, pq codebook, index
    * frame (nn_id, cell, codes)); the models are driver metadata both
    * the probe side and any later encode increment reuse. Empty/wrong-
    * dim corpus → empty models + empty frame. SourcesSpec pins that a
    * cell-partitioned write of this frame prunes to the probed cells'
    * directories on re-scan. */
  def ivfPqIndex(emb: DataFrame, cells: Int = 16, lloydIters: Int = 3,
                 iters: Int = PqIters, residual: Boolean = false)
      : (Array[Array[Double]], Array[Array[Array[Double]]], DataFrame) =
    ivfPqIndexOf(new Corpus(emb), emb, cells, lloydIters, iters, residual)

  /** [[ivfPqIndex]] over a [[Corpus]] the caller already keyed: on a
    * fresh corpus one key aggregate, ONE training fetch for both
    * codebooks and the index scratch; on a registry hit only the key
    * aggregate. */
  private def ivfPqIndexOf(c: Corpus, emb: DataFrame, cells: Int,
                           lloydIters: Int = 3, iters: Int = PqIters,
                           residual: Boolean = false)
      : (Array[Array[Double]], Array[Array[Array[Double]]], DataFrame) = {
    val e = emb.select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
    val cents = trainIvf(c, cells, lloydIters)
    def emptyTriple = {
      val empty = e.select(col("vec_id").as("nn_id"))
        .withColumn("cell", lit(0))
        .withColumn("codes", typedlit(Seq.empty[Int])).limit(0)
      (Array.empty[Array[Double]],
        Array.empty[Array[Array[Double]]], empty)
    }
    if (cents.isEmpty) return emptyTriple
    // cell assignment and the encode input fuse into ONE corpus scan;
    // the scratch checkpoint materializes the index exactly once (both
    // the ADC probe and a partitioned write would otherwise re-encode),
    // and the per-JVM cache keeps the whole (centroids, codebook,
    // index) artifact across queries — encode-once is the index
    // contract. `residual = true` is textbook IVFADC: PQ trains on
    // (driver-side, from the same training rows) and encodes
    // r = unit(v) − centroid(cell) (valid because
    // unit(q) − unit(v) = r_q − r exactly, so per-(query, cell) ADC
    // tables approximate the true unit-space L2). MEASURED on this
    // testdata it does NOT pay: recall@5 0.80 vs 0.90 raw at sf0.001,
    // 0.72 vs 0.74 at sf0.01 — with only 16 coarse
    // cells over near-uniform synthetic vectors the residuals carry
    // nearly the raw variance, so the finer-quantization argument
    // (Jégou et al. §IV) only bites at production cell counts
    // (√N cells shrink residual norms; revisit the default there).
    // Hence the measurement-driven default: residual = false.
    val (_, cb, index) = ivfPqIndexCache.computeIfAbsent(
      (c.pqKey, cells, lloydIters, iters, residual),
      _ => {
        val assigned = assignCells(e, cents).drop("best_dot")
        val centsLit = typedlit(cents.map(_.toSeq).toSeq)
        val enc =
          if (residual)
            assigned.select(col("vec_id"), col("cell"),
              zip_with(unitVec(col("v")),
                element_at(centsLit, col("cell") + 1),
                (a, b) => a - b).as("v"))
          else
            assigned.select(col("vec_id"), col("cell"),
              unitVec(col("v")).as("v"))
        val cb2 =
          if (residual)
            Lloyd.pqResidual(c.rows(Lloyd.target(PqK)), cents, iters)
          else pqTrain(c, iters)
        if (cb2.isEmpty) (cents, cb2, emptyTriple._3)
        else {
          val cbSeq = cb2.map(_.toSeq.map(_.toSeq)).toSeq
          (cents, cb2, Checkpoints.scratch(
            enc.select(col("vec_id").as("nn_id"), col("cell"),
              pqCodes(col("v"), cbSeq).as("codes"))))
        }
      })
    if (cb.isEmpty) emptyTriple else (cents, cb, index)
  }

  /** Incremental index maintenance — the daily-embedding-ingest shape:
    * encode a NEW increment of vectors against the FROZEN models (IVF
    * centroids + PQ codebooks), so an ingest costs ONE scan of the
    * increment — never a retrain, never a re-encode of the base. The
    * returned (nn_id, cell, codes) rows union with the stored index,
    * or write straight into the cell-partitioned layout as new files
    * per cell dir (partition-append, no rewrite). Because assignment
    * and encode are pure functions of (vector, models), an appended
    * row is BYTE-EQUAL to the row a full rebuild under the same models
    * would produce — [[ivfPqAppendGate]] pins exactly that. */
  def ivfPqAppend(cents: Array[Array[Double]],
                  cb: Array[Array[Array[Double]]],
                  newEmb: DataFrame,
                  residual: Boolean = false): DataFrame = {
    val e = newEmb.select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
    if (cents.isEmpty || cb.isEmpty)
      return e.select(col("vec_id").as("nn_id"))
        .withColumn("cell", lit(0))
        .withColumn("codes", typedlit(Seq.empty[Int])).limit(0)
    val cbSeq = cb.map(_.toSeq.map(_.toSeq)).toSeq
    val centsLit = typedlit(cents.map(_.toSeq).toSeq)
    val assigned = assignCells(e, cents).drop("best_dot")
    val vcol =
      if (residual)
        zip_with(unitVec(col("v")), element_at(centsLit, col("cell") + 1),
          (a, b) => a - b)
      else unitVec(col("v"))
    assigned.select(col("vec_id").as("nn_id"), col("cell"),
      pqCodes(vcol, cbSeq).as("codes"))
  }

  /** Hash-checked gate for the append path: the increment (vec_id <
    * 50) encoded through [[ivfPqAppend]] under the full build's frozen
    * models must reproduce the full index's rows for those ids — cell
    * AND codes — exactly, row for row. Counts are SQL-recomputable;
    * the equality flags pin the frozen-model determinism contract a
    * partition-append index depends on (a retrain sneaking into the
    * ingest path, or nondeterministic assignment, flips them). */
  def ivfPqAppendGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Tables
    val emb = Tables.embeddings(s, dir)
    val nEmb = emb.count()
    val inc = emb.filter(col("vec_id") < 50)
    val nInc = inc.count()
    // the frozen-model determinism contract holds PER ENCODING: raw
    // codes (the measured default) and residual codes (r = unit(v) −
    // centroid, a different pure function of the same models) are
    // checked separately — an ingest-path divergence in either flips
    // its own pair of flags
    def check(residual: Boolean): (Int, Int) = {
      // the deployed index shape: cells from the corpus-count policy
      val (cents, cb, index) =
        ivfPqIndex(emb, scaledCells(nEmb), residual = residual)
      if (cents.isEmpty || cb.isEmpty) return (1, 1)
      val appended = ivfPqAppend(cents, cb, inc, residual)
      val fromFull = index.filter(col("nn_id") < 50)
        .select(col("nn_id"), col("cell").as("cell_f"),
          col("codes").as("codes_f"))
      val Seq(nJoin, nEq) = Audit.counts(appended.join(fromFull, Seq("nn_id")),
        col("cell") === col("cell_f") && col("codes") === col("codes_f"))
      (if (nJoin == nInc) 1 else 0, if (nEq == nInc) 1 else 0)
    }
    val (countOk, rowsOk) = check(residual = false)
    val (resCountOk, resRowsOk) = check(residual = true)
    Seq((nEmb, nInc, countOk, rowsOk, resCountOk, resRowsOk))
      .toDF("n_emb", "n_inc", "count_ok", "rows_ok",
        "res_count_ok", "res_rows_ok")
  }

  /** REBUILD-TRIGGER gate for the partition-appended IVFADC layout.
    * [[ivfPqAppend]] (and its streaming twin) encode arrivals under
    * FROZEN models, so as the corpus outgrows the count the cells were
    * provisioned for, per-cell occupancy — and with it every probe's
    * ADC row count — drifts up linearly while the cell count stands
    * still: exactly the fixed-cells quadratic §9.3 measured (893 s at
    * the 100× stress before [[scaledCells]]). The rule this gate pins:
    * RETRAIN WHEN THE COUNT POLICY WANTS ≥ 2× THE TRAINED CELLS. With
    * cells ~ 4√N that trips at ~4× corpus growth, so (a) rebuilds are
    * O(log₄ N) over the corpus lifetime, and (b) between rebuilds the
    * stale mean occupancy N_now/cells_trained stays within 2× of the
    * freshly-provisioned N_now/cells_policy — probe ADC cost drifts at
    * most 2× before a rebuild amortizes it away.
    *
    * Evidence shape: one row per snapshot — a STALE one (models frozen
    * when the corpus was 1/8th its current size, then the remaining 7/8
    * appended through the real [[ivfPqAppend]] path) and a FRESH one
    * (provisioned at the current count). The policy arithmetic
    * (`scaledCells` = max(16, min(4096, min(⌈4√n⌉, n/32)))) is
    * SQL-recomputable EXACTLY — IEEE sqrt is correctly rounded (unlike
    * libm ln, the reason the NB/BM25 family uses integer millionths),
    * ×4 and ⌈·⌉ are exact, and the rest is integer min/max — so
    * cells/occupancy/rebuild all hash-check against DuckDB. The two
    * measured flags pin the real append path at the stale cell count:
    * `append_complete` (encode drops no rows: stale-index ∪ appended
    * counts conserve to n_now) and `cells_in_range` (every appended
    * row's cell id addresses a trained cell — partition-layout safety:
    * an out-of-range id would write a directory no probe ever reads). */
  /** Exact `nRows`-th smallest vec_id — the deterministic prefix-split
    * threshold the evidence gates cut their base/increment corpora on.
    * Long-safe by construction: a distributed range sort plus
    * per-partition offset indices (RDD zipWithIndex — partition counts
    * and offsets, no single-partition window), never
    * `limit(nRows.toInt)`, whose silent Int truncation is at odds with
    * the 100 TB framing. `nRows <= 0` returns `Long.MinValue` — an
    * empty prefix (`vec_id <= thr` selects nothing, `> thr`
    * everything) — so 0- and 1-row corpora degrade instead of
    * throwing on the empty RDD's `.max()`. */
  private[graft] def prefixThreshold(df: DataFrame, nRows: Long): Long = {
    if (nRows <= 0L) return Long.MinValue
    // Exact nRows-th smallest vec_id (vec_ids are unique) by histogram
    // refinement: one (min, max, count) aggregate, then per refinement
    // ONE scan-only 4096-bucket count aggregate over the shrinking value
    // range — the range narrows 4096× per pass, so a 2⁴⁰ id span settles
    // in ≤4 passes and the bench corpora in one. The r18 form was an RDD
    // sortBy + zipWithIndex + max: a full shuffle-sort of the column
    // plus ~4 jobs per call, at 100 TB a corpus-wide sort where a few
    // pushdown-filtered scan aggregates suffice, and this helper runs
    // 15+ times across the gate suite (guide §2.4: remove shuffles
    // outright). Results are identical: the loop is an exact selection.
    val ids = df.select(col("vec_id"))
    val r0 = ids.agg(min("vec_id"), max("vec_id"), count(lit(1))).head()
    if (r0.getLong(2) == 0L) return Long.MinValue
    var lo = r0.getLong(0)
    var hi = r0.getLong(1)
    if (nRows >= r0.getLong(2)) return hi
    require(lo >= 0 || hi < Long.MaxValue + lo,
      s"vec_id span [$lo, $hi] overflows the histogram arithmetic")
    var rank = nRows
    while (lo < hi) {
      val width = math.max(1L, (hi - lo) / 4096L + 1L)
      val hist = ids
        .filter(col("vec_id") >= lo && col("vec_id") <= hi)
        .groupBy(expr(s"(vec_id - $lo) DIV $width").as("b"))
        .agg(count(lit(1)).as("c"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._1)
      var acc = 0L
      var bucket = -1L
      hist.foreach { case (b, c) =>
        if (bucket < 0 && acc + c >= rank) bucket = b else if (bucket < 0) acc += c
      }
      require(bucket >= 0, "histogram refinement lost the rank invariant")
      rank -= acc
      lo = lo + bucket * width
      // saturating clamp: lo + width - 1 can wrap past Long.MaxValue
      // when the id span abuts the Long range (the require above only
      // bounds hi - lo); a wrap would flip hi negative and exit the
      // loop on the bucket's LOWER bound instead of the exact rank
      hi = if (width - 1 > Long.MaxValue - lo) hi
           else math.min(hi, lo + width - 1)
      if (width == 1L) return lo // unique ids: the bucket IS the value
    }
    lo
  }

  def ivfPqReindexGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Tables
    val emb = Tables.embeddings(s, dir)
    val nNow = emb.count()
    val nBase = math.max(1L, nNow / 8)
    val staleCells = scaledCells(nBase)
    val freshCells = scaledCells(nNow)
    // empty corpus: max(vec_id) below is NULL — emit the same policy
    // arithmetic the oracle computes from count = 0, flags vacuously 1
    if (nNow == 0L)
      return Seq(
        ("stale", nBase, 0L, staleCells, 0L,
          if (freshCells >= 2 * staleCells) 1 else 0, 1, 1),
        ("fresh", 0L, 0L, freshCells, 0L, 0, 1, 1))
        .toDF("snapshot", "n_trained_at", "n_now", "cells", "occ_mean",
          "rebuild", "append_complete", "cells_in_range")
    // the stale snapshot's corpus: the n_base smallest vec_ids (a
    // deterministic stand-in for the growth history; vec_id is unique,
    // so the threshold cut is exactly n_base rows)
    val thr = prefixThreshold(emb, nBase)
    val early = emb.filter(col("vec_id") <= thr)
    val late = emb.filter(col("vec_id") > thr)
    val (cents, cb, staleIdx) = ivfPqIndex(early, staleCells)
    val appended = ivfPqAppend(cents, cb, late)
    val unioned = staleIdx.select("nn_id", "cell")
      .unionAll(appended.select("nn_id", "cell"))
    val audit = unioned.agg(count(lit(1)).as("n_total"),
      coalesce(sum((col("cell") >= 0 &&
        col("cell") < staleCells).cast("long")), lit(0L)).as("n_in_range"))
      .head()
    val appendComplete = if (audit.getLong(0) == nNow) 1 else 0
    val cellsInRange = if (audit.getLong(1) == nNow) 1 else 0
    Seq(
      ("stale", nBase, nNow, staleCells, nNow / staleCells,
        if (freshCells >= 2 * staleCells) 1 else 0,
        appendComplete, cellsInRange),
      ("fresh", nNow, nNow, freshCells, nNow / freshCells,
        0, 1, 1))
      .toDF("snapshot", "n_trained_at", "n_now", "cells", "occ_mean",
        "rebuild", "append_complete", "cells_in_range")
  }

  /** INDEX-LIFECYCLE capstone — the ANN twin of
    * `corpus_refresh_assembly`: the morning-after plan a deployed
    * IVFADC index runs, composed as ONE gated query instead of four
    * individually-gated pieces (ingest [[ivfPqAppend]] → trigger
    * [[ivfPqReindexGate]]'s ≥2×-cells rule → rebuild under
    * [[scaledCells]] → recall re-gate on the DEPLOYED snapshot).
    * Composition is where contract bugs hide — each r10 capstone
    * caught one — so the stages here chain the REAL operators, not
    * restatements:
    *
    *   1. morning 0: the index is provisioned for the 1/8-prefix
    *      corpus (`scaledCells(n_base)` cells, the reindex-gate split);
    *   2. the remaining 7/8 arrive through the real [[ivfPqAppend]]
    *      path under the FROZEN morning-0 models — `append_complete`
    *      (row conservation) and `cells_in_range` (partition-layout
    *      safety) audit the union exactly as a deployment would;
    *   3. the rebuild trigger evaluates the count policy —
    *      SQL-recomputable arithmetic (`rebuild` = fresh ≥ 2× stale);
    *   4. the DEPLOYED snapshot per that policy — the fresh
    *      `scaledCells(n_now)` rebuild when the trigger trips, the
    *      stale-models appended index when it doesn't (within the 2×
    *      occupancy bound by construction) — serves a probe query
    *      under the shipped scaling policies, and its recall vs the
    *      exact brute-force top-k must clear `recallFloor`.
    *
    * One output row; counts and policy arithmetic are SQL-exact, the
    * measured flags (`append_complete cells_in_range full_k
    * recall_ok`) pin the composition. PlanSpec pins the probe plan
    * stays cartesian-free. */
  def ivfPqLifecycleGate(s: SparkSession, dir: String, k: Int = 5,
                         recallFloor: Double = 0.6): DataFrame = {
    import s.implicits._
    import graft.sources.Tables
    def row(nBase: Long, nInc: Long, nNow: Long, staleCells: Int,
            freshCells: Int, rebuild: Int, appendComplete: Int,
            cellsInRange: Int, fullK: Int, recallOk: Int) =
      Seq((nBase, nInc, nNow, staleCells, freshCells, rebuild,
        appendComplete, cellsInRange, fullK, recallOk))
        .toDF("n_base", "n_inc", "n_now", "stale_cells", "fresh_cells",
          "rebuild", "append_complete", "cells_in_range", "full_k",
          "recall_ok")
    val emb = Tables.embeddings(s, dir)
    val nNow = emb.count()
    val nBase = math.max(1L, nNow / 8)
    val staleCells = scaledCells(nBase)
    val freshCells = scaledCells(nNow)
    val rebuild = if (freshCells >= 2 * staleCells) 1 else 0
    if (nNow == 0L)
      return row(nBase, 0L, 0L, staleCells, freshCells, rebuild,
        1, 1, 1, 1)
    // stage 1-2: morning-0 build + the real append path (the
    // reindex-gate prefix split; per-JVM index caches make the shared
    // artifacts build once per session)
    val thr = prefixThreshold(emb, nBase)
    val early = emb.filter(col("vec_id") <= thr)
    val late = emb.filter(col("vec_id") > thr)
    val (cents0, cb0, idx0) = ivfPqIndex(early, staleCells)
    if (cents0.isEmpty || cb0.isEmpty)
      return row(nBase, nNow - nBase, nNow, staleCells, freshCells,
        rebuild, 1, 1, 1, 1)
    val appended = ivfPqAppend(cents0, cb0, late)
    val staleIdx = Checkpoints.scratch(
      idx0.unionAll(appended.select("nn_id", "cell", "codes")))
    val Seq(nTotal, nInRange) = Audit.counts(staleIdx,
      col("cell") >= 0 && col("cell") < staleCells)
    val appendComplete = if (nTotal == nNow) 1 else 0
    val cellsInRange = if (nInRange == nNow) 1 else 0
    // stage 3-4: the snapshot the policy deploys — rebuild when the
    // trigger trips, else keep serving the appended stale index
    val (cents, cb, index) =
      if (rebuild == 1) ivfPqIndex(emb, freshCells)
      else (cents0, cb0, staleIdx)
    if (cents.isEmpty || cb.isEmpty)
      return row(nBase, nNow - nBase, nNow, staleCells, freshCells,
        rebuild, appendComplete, cellsInRange, 1, 1)
    // recall re-gate under the shipped policies (the knnIvfPqAuto
    // configuration of the deployed snapshot's cell count)
    val queries = emb.filter(col("vec_id") < 10)
    val deployedCells = if (rebuild == 1) freshCells else staleCells
    val rr = scaledRerank(nNow)
    val np = scaledNprobe(nNow, deployedCells, rr)
    val ann = knnIvfPqWith(emb, index, cents, cb, queries, k, np, rr,
      residual = false).select("query_id", "nn_id")
    val bf = knnBruteForce(emb, queries, k).select("query_id", "nn_id")
    val nq = queries.count()
    val kEff = Audit.kEff(k, nNow)
    // one left-join aggregate decides full-k AND recall hits (bf pairs
    // unique per (query, nn) — the knnBruteForce uniqueness contract),
    // where the r19 form scratched the probe then ran a count plus a
    // semi-join count: 3 actions folded to 1 — guide §1.2
    val annAudit = Audit.hits(ann, bf, Seq("query_id", "nn_id")).head()
    val fullK = if (annAudit.getLong(0) == nq * kEff) 1 else 0
    val recallOk = Audit.recallOk(annAudit.getLong(1), nq * kEff, recallFloor)
    row(nBase, nNow - nBase, nNow, staleCells, freshCells, rebuild,
      appendComplete, cellsInRange, fullK, recallOk)
  }

  /** ANN top-k via the COMPOSED IVF×PQ index — the production shape at
    * 100 TB, uniting [[knnIvf]]'s partition pruning with [[knnPq]]'s
    * 8-byte scan tier:
    *
    *   1. probe: each query selects its nprobe nearest IVF cells
    *      (per-row struct-sort against the driver-held centroids, the
    *      knnIvf pattern) and precomputes its [M][K] ADC table;
    *   2. ADC scan: the probe frame broadcasts and EQUI-JOINS the index
    *      on the cell id — candidates are the probed cells' code rows
    *      only (a BroadcastHashJoin, PlanSpec-pinned; with every cell
    *      probed it is [[knnPq]]'s all-codes scan). Approx distance = Σ
    *      table lookups on the codes — the corpus side touches no
    *      floats;
    *   3. exact re-rank: the ADC top-`rerank` shortlist (nq·rerank
    *      rows, driver-bounded) fetches true vectors via broadcast
    *      join and re-ranks by exact cosine.
    *
    * Recall vs exact top-5 on the testdata: 0.90 /
    * 0.82 / 0.70 at sf0.001/0.01/0.1 with cells=16, nprobe=8,
    * rerank=100 — the IVF probe-miss and ADC distortion losses compose
    * (ivf alone 0.82/0.90, pq alone 0.90), and the shortlist depth is
    * the recall lever as the corpus grows (50 → 100 lifted sf0.1 from
    * 0.56 to 0.70; production scales rerank with ln N, still an
    * nq·rerank driver-bounded set); the 0.6 floor in [[knnRecallGates]]
    * keeps real margin at every SF the driver replays. Deterministic end-to-end: seeded
    * codebooks, argmin/argmax first-index tie-breaks, rank ties on
    * nn_id. */
  def knnIvfPq(emb: DataFrame, queries: DataFrame, k: Int,
               cells: Int = 16, nprobe: Int = 8, lloydIters: Int = 3,
               iters: Int = PqIters, rerank: Int = 100,
               residual: Boolean = false,
               broadcastQueries: Boolean = true): DataFrame = {
    val (cents, cb, index) =
      ivfPqIndex(emb, cells, lloydIters, iters, residual)
    if (cents.isEmpty || cb.isEmpty) {
      val s = emb.sparkSession
      import s.implicits._
      return Seq.empty[(Long, Long, Int)].toDF("query_id", "nn_id", "rn")
    }
    knnIvfPqWith(emb, index, cents, cb, queries, k, nprobe, rerank,
      residual, broadcastQueries)
  }

  /** Probe → ADC → re-rank of [[knnIvfPq]] against an already-built
    * index — the one ADC probe core: [[knnPq]] is its every-cell case,
    * and [[knnRecallGates]], the store gates and [[knnIvfPqServe]]
    * call it on indexes they already hold.
    * Under `residual` the ADC table is per (query, probed cell) —
    * built from r_q = unit(q) − centroid(cell) on each probe row
    * (nq·nprobe driver-bounded rows, still scan-fused math).
    *
    * `broadcastQueries` picks the join tier for the query side: true
    * (the point-lookup shape — a bounded query set) pins
    * BroadcastHashJoins; false (the MINING shape — the query set is
    * itself a corpus, [[mineBitextAnn]]) leaves the ADC join a plain
    * cell equi-join and the re-rank joins plain key joins, so the
    * planner shuffles both sides by key instead of broadcasting a
    * corpus-sized probe frame to every executor — with the index
    * stored partitioned by cell, only the probe side moves. */
  private def knnIvfPqWith(emb: DataFrame, index: DataFrame,
                           cents: Array[Array[Double]],
                           cb: Array[Array[Array[Double]]],
                           queries: DataFrame, k: Int, nprobe: Int,
                           rerank: Int, residual: Boolean,
                           broadcastQueries: Boolean = true): DataFrame = {
    def bq(df: DataFrame) = if (broadcastQueries) broadcast(df) else df
    val cbSeq = cb.map(_.toSeq.map(_.toSeq)).toSeq
    val cbl = typedlit(cbSeq)
    val centsLit = typedlit(cents.map(_.toSeq).toSeq)
    // probe frame: one row per (query, probed cell), carrying that
    // row's ADC table — nq·nprobe rows of driver-bounded size
    def tabsOf(qvc: Column): Column =
      transform(sequence(lit(0), lit(PqM - 1)), s =>
        transform(sequence(lit(1), lit(PqK)), kk =>
          aggregate(
            zip_with(slice(qvc, s * PqSubDim + 1, lit(PqSubDim)),
              element_at(element_at(cbl, s + 1), kk),
              (a, b) => (a - b) * (a - b)),
            lit(0.0d), (acc, x) => acc + x)))
    val qBase = queries
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
      .withColumn("vq", unitVec(col("v")))
    val qExpanded =
      if (residual)
        // residual ADC tables are PER (query, cell): r_q depends on the
        // probed centroid, so the table builds after the explode
        qBase.withColumn("probe", probeCells(col("v"), cents, nprobe))
          .withColumn("cell", col("probe.cell"))
          .withColumn("qv",
            zip_with(col("vq"), element_at(centsLit, col("cell") + 1),
              (a, b) => a - b))
          .withColumn("tabs", tabsOf(col("qv")))
      else
        // raw-mode ADC tables are cell-INVARIANT: build the [M][K]
        // table ONCE per query, then explode to probe rows — an
        // nprobe× saving on the probe stage's dominant math
        qBase.withColumn("tabs", tabsOf(col("vq")))
          .withColumn("probe", probeCells(col("v"), cents, nprobe))
          .withColumn("cell", col("probe.cell"))
    val q = Checkpoints.scratch(
      qExpanded.select(col("vec_id").as("query_id"), col("tabs"), col("cell")))
    // each corpus vector lives in exactly one cell and a query probes
    // distinct cells → a (query, nn) candidate appears at most once
    val wA = Window.partitionBy("query_id")
      .orderBy(asc("approx_d"), asc("nn_id"))
    val shortlist = index
      .join(bq(q), Seq("cell"))
      .filter(col("query_id") =!= col("nn_id"))
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
    // one vq per query, read from the query frame before the explode:
    // query ids are unique (the candidate comment above relies on it),
    // so no shuffle has to reduce the probe rows to one per query
    bq(shortlist).join(cv, Seq("nn_id"))
      .join(bq(qBase.select(col("vec_id").as("query_id"), col("vq"))),
        Seq("query_id"))
      .withColumn("sim", round(dot_native(col("vq"), col("vc")), 6))
      .withColumn("rn", row_number().over(wE))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("nn_id"), col("rn"))
  }

  /** Rerank-shortlist depth policy for [[knnIvfPq]]: ln-scaled from
    * the 100-at-N=500 anchor (rerank = ⌈16.1·ln N⌉, floor 100), so the
    * exact re-rank stays an nq·O(ln N) driver-bounded set while the
    * shortlist deepens as the corpus grows. */
  def scaledRerank(n: Long): Int =
    math.max(100, math.ceil(16.1 * math.log(math.max(n, 2).toDouble)).toInt)

  /** Probe-width policy for [[knnIvfPq]]: probe enough cells that the
    * EXPECTED candidate mass covers the shortlist with margin —
    * nprobe = ⌈12·rerank·cells/N⌉ clamped to [8, cells]. The sweep
    * behind it: at sf0.1 nprobe=8 caps recall@5 at
    * 0.74 regardless of rerank (probe loss, not ADC distortion, is
    * binding once cells hold N/cells=125 vectors), while the policy's
    * nprobe=12 with the ln-scaled rerank reaches 0.88 (raw) / 0.80
    * (residual). At production scale cells is provisioned O(√N), so
    * the mass term keeps nprobe near its floor and pruning real. */
  def scaledNprobe(n: Long, cells: Int = 16, rerank: Int = 100): Int =
    math.min(cells, math.max(8,
      math.ceil(12.0 * rerank * cells / math.max(n, 1).toDouble).toInt))

  /** Cell-count policy for the composed IVFADC tier: cells ≈ 4√N (the
    * IVF provisioning rule — Jégou et al. §V size the coarse quantizer
    * O(√N)), floored at the 16-cell test default, capped by ⌊N/32⌋
    * (≥32 training vectors per cell keeps the Lloyd means
    * statistically real on small corpora) and 4096 (the codebook stays
    * driver metadata). The policy exists because FIXED cells=16 makes
    * per-cell size N/16: the ADC join then touches nprobe·N/16 code
    * rows per query and the whole probe goes QUADRATIC in N — measured
    * at the 100× stress corpus before this policy, the miner's ADC
    * frame was ~2×10⁹ rows. O(√N) cells keep per-cell size O(√N), the
    * probe subquadratic, and (with [[scaledNprobe]]'s candidate-mass
    * rule) nprobe a small constant fraction of a much larger codebook. */
  def scaledCells(n: Long): Int =
    math.max(16, math.min(4096, math.min(
      math.ceil(4.0 * math.sqrt(math.max(n, 1).toDouble)).toInt,
      (n / 32L).toInt)))

  /** Bench-sized cell count for the store-lifecycle gates: ⌈√N/2⌉,
    * floored at 1, never above the [[scaledCells]] policy. One shared
    * definition (r18 advice): the bench warm-up relies on every
    * bench-sized gate hitting the SAME (base, cells) registry entry, so
    * the arithmetic must not drift between call sites. */
  def benchSizedCells(n: Long): Int =
    math.max(1, math.min(scaledCells(n),
      math.ceil(math.sqrt(math.max(n, 1L).toDouble) / 2.0).toInt))

  /** [[knnIvfPq]] under the measured scaling policies: one corpus
    * count picks cells (~4√N), rerank (ln-scaled) and nprobe
    * (candidate-mass) — the configuration the gated query and the
    * recall gates replay. `cells` ≤ 0 (the default) derives from the
    * corpus count; a positive value pins it (test hooks). */
  def knnIvfPqAuto(emb: DataFrame, queries: DataFrame, k: Int,
                   cells: Int = 0,
                   residual: Boolean = false): DataFrame = {
    val n = emb.count()
    val cc = if (cells > 0) cells else scaledCells(n)
    val rr = scaledRerank(n)
    knnIvfPq(emb, queries, k, cc,
      nprobe = scaledNprobe(n, cc, rr), rerank = rr,
      residual = residual)
  }

  // ---- ANN-backed bitext mining: the production tier ----

  /** Embedded docs of one language: (vec_id, embedding) — the per-side
    * corpus both bitext tiers mine over. */
  private def bitextSide(s: SparkSession, dir: String, lang: String)
      : DataFrame = {
    import graft.sources.Tables
    Tables.embeddings(s, dir)
      .join(Tables.documents(s, dir).filter(col("lang") === lang)
        .select(col("doc_id").as("vec_id")), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"))
  }

  /** The PRODUCTION bitext miner — [[mineBitext]]'s scoring over ANN
    * neighborhoods instead of the all-pairs product (Artetxe & Schwenk
    * 2019 §3.2 mine CCMatrix exactly this way: a FAISS index per
    * language, k probes per doc, margin over the retrieved
    * neighborhood). Two [[knnIvfPq]] probes per doc — src docs query
    * the tgt-side IVFADC index and vice versa — so the pair frame is
    * k·(|src|+|tgt|) rows instead of |src|·|tgt|: per-doc cost is flat
    * in the other side's size, which is the whole fight at 100 TB
    * (the exact tier's measured slope was 7.7× per 10×).
    *
    * Scoring is engine-exact and IDENTICAL to the exact tier's: exact
    * cosine (6 dp) recomputed on the bounded candidate set, top-k
    * neighborhood sums in int64 cosine-micros, floor-division margin —
    * the only approximation is WHICH pairs enter the neighborhood.
    * Each side's neighborhood sum uses its own direction's ANN top-k
    * (the per-query rank the probe already returns), so a hub vector's
    * denominator still grows with its retrieved neighborhood and the
    * hubness normalization survives the ANN substitution. When the
    * probe delivers an UNDER-FULL neighborhood (possible when nprobe
    * cells hold fewer than k candidates — degenerate corpora), the
    * margin divides by the ACTUAL retrieved count (ca + cb) instead of
    * an assumed-full 2k, and a side with no own-direction retrievals
    * contributes (0, 0) via a left join — integer-identical to the
    * exact tier whenever both neighborhoods are full, never inflated
    * when they aren't.
    *
    * Probe configuration: `nprobe`/`rerank` ≤ 0 (the default) derives
    * each direction's values from the PROBED side's corpus count via
    * the measured scaling policies ([[scaledRerank]] /
    * [[scaledNprobe]]) — the same configuration the gated IVFADC tier
    * ships, so the miner's recall doesn't silently erode as cells fill
    * (a fixed nprobe=8 becomes probe-loss-bound as N/cells
    * grows). [[bitextAnnGate]] hash-checks pair recall vs the exact
    * tier. */
  def mineBitextAnn(s: SparkSession, dir: String, srcLang: String = "en",
                    tgtLang: String = "de", k: Int = 4,
                    marginFloor: Double = 1.0, cells: Int = 0,
                    nprobe: Int = 0, rerank: Int = 0): DataFrame = {
    val a = bitextSide(s, dir, srcLang)
    val b = bitextSide(s, dir, tgtLang)
    // per-direction probe parameters from the indexed side's count —
    // two bounded metadata actions, the knnIvfPqAuto pattern
    def params(indexed: DataFrame): (Int, Int, Int) = {
      val n = indexed.count()
      val cc = if (cells > 0) cells else scaledCells(n)
      val rr = if (rerank > 0) rerank else scaledRerank(n)
      val np = if (nprobe > 0) nprobe else scaledNprobe(n, cc, rr)
      (cc, np, rr)
    }
    val (ccA, npA, rrA) = params(b)
    val (ccB, npB, rrB) = params(a)
    // 2 ANN probes per doc, one per direction; doc_ids are globally
    // unique so the cross-lingual query never self-matches
    val nnA = knnIvfPq(b, a, k, ccA, npA, rerank = rrA,
        broadcastQueries = false)
      .select(col("query_id").as("src_id"), col("nn_id").as("tgt_id"),
        lit(1).as("da"), lit(0).as("db"))
    val nnB = knnIvfPq(a, b, k, ccB, npB, rerank = rrB,
        broadcastQueries = false)
      .select(col("nn_id").as("src_id"), col("query_id").as("tgt_id"),
        lit(0).as("da"), lit(1).as("db"))
    // candidate set: union of both directions, tagged with which
    // side(s) retrieved the pair — the tags select each direction's
    // top-k rows for the neighborhood sums without a second join
    val cand = nnA.unionByName(nnB)
      .groupBy("src_id", "tgt_id")
      .agg(max("da").as("da"), max("db").as("db"))
    def vecs(df: DataFrame, id: String, v: String, n: String) =
      df.select(col("vec_id").as(id), toDoubleVec(col("embedding")).as(v))
        .withColumn(n,
          greatest(sqrt(dot_native(col(v), col(v))), lit(1e-9)))
    // exact cosine on the bounded candidates only — equi-joins on the
    // doc id (at scale: k·N candidate rows, shuffle-joined by key; the
    // exact tier's |a|·|b| product never materializes anywhere)
    val scored = Checkpoints.scratch(cand
      .join(vecs(a, "src_id", "va", "na"), Seq("src_id"))
      .join(vecs(b, "tgt_id", "vb", "nb"), Seq("tgt_id"))
      .withColumn("cos",
        round(dot_native(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .withColumn("cos_micro", round(col("cos") * 1e6).cast("long"))
      .select("src_id", "tgt_id", "cos", "cos_micro", "da", "db"))
    val sa = scored.filter(col("da") === 1)
      .groupBy("src_id").agg(sum("cos_micro").as("sa"),
        count(lit(1)).as("ca"))
    val sb = scored.filter(col("db") === 1)
      .groupBy("tgt_id").agg(sum("cos_micro").as("sb"),
        count(lit(1)).as("cb"))
    val wm = Window.partitionBy("src_id")
      .orderBy(desc("margin_micros"), asc("tgt_id"))
    // LEFT joins: a pair retrieved only by the reverse direction whose
    // src (or tgt) has no own-direction retrievals keeps its row with a
    // (0, 0) neighborhood instead of silently dropping; the actual
    // count (ca + cb) replaces the exact tier's always-full 2k — equal
    // integers whenever both neighborhoods hold k rows (the
    // non-degenerate case), smaller (never inflated) margins otherwise
    scored.join(sa, Seq("src_id"), "left").join(sb, Seq("tgt_id"), "left")
      .withColumn("sa", coalesce(col("sa"), lit(0L)))
      .withColumn("sb", coalesce(col("sb"), lit(0L)))
      .withColumn("ca", coalesce(col("ca"), lit(0L)))
      .withColumn("cb", coalesce(col("cb"), lit(0L)))
      .filter(col("sa") + col("sb") > 0)
      .withColumn("margin_micros",
        expr("(cos_micro * (ca + cb) * 1000000) div (sa + sb)"))
      .withColumn("rn", row_number().over(wm))
      .filter(col("rn") === 1 &&
        col("margin_micros") >= math.round(marginFloor * 1e6))
      .select("src_id", "tgt_id", "cos", "margin_micros")
  }

  /** Hash-checked gate for [[mineBitextAnn]]: pair recall vs the exact
    * all-pairs tier must clear `recallFloor` on the replayed corpus.
    * Side sizes and the exact tier's pair count are SQL-recomputable
    * (the oracle re-runs the exact miner); the recall and bound checks
    * are pinned as flags — an index regression that drops mined pairs
    * below the floor, or a miner emitting more than one pair per
    * source doc, flips them. */
  def bitextAnnGate(s: SparkSession, dir: String, srcLang: String = "en",
                    tgtLang: String = "de",
                    recallFloor: Double = 0.8): DataFrame = {
    import s.implicits._
    // the exact and ANN miners are independent chains — overlap their
    // materializations (guide §2.6): wall-clock becomes max, not sum
    val (exact, ann) = Audit.parallel(
      Checkpoints.scratch(
        mineBitext(s, dir, srcLang, tgtLang).select("src_id", "tgt_id")),
      Checkpoints.scratch(
        mineBitextAnn(s, dir, srcLang, tgtLang)
          .select("src_id", "tgt_id")))
    // audit actions folded to 2 overlapped jobs (guide §1.2): one agg
    // over the joined embeddings for both side sizes; ONE full-join agg
    // for nAnn + nHit + nExact (both sides unique per (src, tgt) — the
    // mineBitext uniqueness contract — so full-join row multiplicity is
    // exactly matched + ann-only + exact-only)
    val sidesAgg = graft.sources.Tables.embeddings(s, dir)
      .join(graft.sources.Tables.documents(s, dir)
          .filter(col("lang").isin(srcLang, tgtLang))
          .select(col("doc_id").as("vec_id"), col("lang")),
        Seq("vec_id"))
      .agg(
        coalesce(sum((col("lang") === srcLang).cast("long")), lit(0L)),
        coalesce(sum((col("lang") === tgtLang).cast("long")), lit(0L)))
    val hitAggF = Audit.overlap(ann, exact, Seq("src_id", "tgt_id"))
    val (sides, hitAgg) =
      Audit.parallel(sidesAgg.head(), hitAggF.head())
    val nSrc = sides.getLong(0)
    val nTgt = sides.getLong(1)
    val nAnn = hitAgg.getLong(0)
    val nExact = hitAgg.getLong(2)
    val recallOk = Audit.recallOk(hitAgg.getLong(1), nExact, recallFloor)
    val boundedOk = if (nAnn <= nSrc) 1 else 0
    Seq((nSrc, nTgt, nExact, recallOk, boundedOk))
      .toDF("n_src", "n_tgt", "n_exact", "recall_ok", "bounded_ok")
  }

  // ---- NN-Descent: the approximate k-NN GRAPH tier ----

  /** Approximate all-corpus k-NN GRAPH via NN-Descent (Dong, Charikar
    * & Li, WWW 2011) — a different ANN SHAPE from the probe tiers:
    * instead of "top-k for a bounded query set", EVERY corpus vector
    * gets its k nearest neighbors — the frame semantic-dedup star
    * components, graph clustering, and hubness audits consume. The
    * exact graph is the N² self-product; NN-Descent converges toward
    * it in a few rounds of O(N·k²) work on the paper's principle that
    * a neighbor of a neighbor is likely a neighbor — no trained model,
    * no index: the graph itself is the data structure, which is why it
    * complements the IVFADC tiers (those need [[ivfPqReindexGate]]'s
    * rebuild cycle; the graph just descends further on append).
    *
    * Spark shape — every stage an equi-join or key-partitioned window:
    *  - INIT: `initRounds` seeded hash-bucketings (xxhash64(vec_id,
    *    seed+r) mod N/bucketSize); within-bucket pairs are the random
    *    starting edges. Bucketed equi-join keyed (round, bucket) —
    *    rounds never merge, nothing is ever a cross join.
    *  - ITERATE: incidence = edges ∪ reversed edges (each node's
    *    neighbors AND reverse-neighbors — Dong's B(v)); candidate
    *    pairs = incidence self-joined on the shared node (two
    *    neighbors of a common node meet); pairs already in the graph
    *    are anti-joined away; each fresh pair gets ONE exact dot
    *    (unit vectors precomputed once, scratch-materialized); per-node
    *    top-k over old ∪ new edges via window. Per-round cost:
    *    Σ_v |B(v)|² ≤ N·(2k)² candidate rows, hash-partitioned by
    *    node — no stage ever sees N².
    *  - Each round materializes through [[Checkpoints.materialize]]
    *    (lineage truncation; reliable-checkpoint under the cluster
    *    knob) and snapshots into the resume store like the other
    *    iterative operators, so a driver restart resumes mid-descent.
    *
    * Determinism: seeded buckets, 6-dp cosine, (desc sim, asc nn_id)
    * tie-breaks, and a FIXED `iters` (not a convergence test) keep the
    * output a pure function of (corpus, params). At 100 TB the knobs
    * are Dong's ρ-sampling (score only a seeded-hash fraction of each
    * incidence list per round) and k — the per-round join shape is
    * unchanged, and ρ defaults to 1, the full descent (the ρ-sampling
    * overload below gives the reason). Returns (query_id, nn_id, sim,
    * rn), the probe tiers' schema with the whole corpus as the query
    * set.
    *
    * `buildK` (default 2k) is the OVER-BUILD width: the descent runs on
    * a 2k-wide graph and the final window truncates to k. Measured on
    * the near-uniform synthetic embeddings (the hard case — no cluster
    * structure for the descent to exploit): at k=buildK=10, iters=3,
    * recall@10 was 0.74/0.74/0.34 at N=500/500/2000 — the N=2000 graph
    * was still far from converged; the wider graph both enlarges each
    * round's candidate pool (|B(v)| ≈ 2·buildK) and keeps near-miss
    * edges alive to seed later rounds. With buildK=2k and iters=5 the
    * MEASURED full-graph recall@10 is 0.998/0.991/0.934 at the three
    * SFs (gate floor 0.6) for ~4× the per-round pair count — measured
    * WITH [[nnDescendRounds]]'s reverse-sampling bound and tried-flag
    * activation, the deployed configuration. */
  def knnGraphNnDescent(emb: DataFrame, k: Int = 10, iters: Int = 5,
                        initRounds: Int = 4, bucketSize: Int = 8,
                        buildK: Int = 0,
                        seed: Long = 41L): DataFrame = {
    // a populated resume store means a restarted driver mid-descent:
    // the store, not the registry, is the source of truth (and the
    // kill-resume spec plants exactly that state) — never serve a
    // cache hit across a resume boundary
    knnGraphNnDescent(emb, k, iters, initRounds, bucketSize, buildK,
      seed, rho = RhoAuto)
  }

  /** ρ sentinel: use the default ρ = 1 instead of a caller choice (any
    * positive value is honored verbatim). */
  private[graft] val RhoAuto = 0.0

  /** Resume key of ONE descent build: the corpus fingerprint plus
    * every parameter that shapes a round's content (kb — the
    * over-build width the rounds actually hold — iters, init
    * bucketing, seed, ρ). Two differently-parameterized builds (the
    * gated full-corpus build, [[knnGraphAppend]]'s base build over a
    * different corpus, a stress build at another kb) can never resume
    * from — and then registry-cache — each other's rounds after a
    * driver restart (CheckpointSpec pins that a foreign build's round
    * is ignored). */
  private def nndescentKey(fp: (Long, String), kb: Int, iters: Int,
                           initRounds: Int, bucketSize: Int, seed: Long,
                           rho: Double): String =
    s"${fp._1}-${fp._2}-$kb-$iters-$initRounds-$bucketSize-$seed-$rho"

  /** The resume key [[knnGraphNnDescent]] would use for this (corpus,
    * params) — exposed so the kill-resume spec plants rounds under the
    * exact store the operator reads. */
  private[graft] def nndescentKeyFor(emb: DataFrame, k: Int = 10,
      iters: Int = 5, initRounds: Int = 4, bucketSize: Int = 8,
      buildK: Int = 0, seed: Long = 41L,
      rho: Double = RhoAuto): String = {
    val kb = if (buildK > 0) buildK else 2 * k
    val fp = corpusFp(emb, Seq("vec_id", "embedding"))
    val rhoEff = if (rho > 0.0) rho else 1.0
    nndescentKey(fp, kb, iters, initRounds, bucketSize, seed, rhoEff)
  }

  /** [[knnGraphNnDescent]] with Dong's ρ-SAMPLING — the 100 TB cost
    * knob: each descent round keeps only a seeded-hash fraction ρ of
    * every node's incidence list before the self-join, cutting the
    * per-round candidate volume to ρ²·Σ|B(v)|² while the kept subset
    * varies per round — Dong et al.'s local-join sampling argument,
    * implemented through the TRIED flag: the ρ draw gates when a list
    * entry ACTIVATES (joins its first local join), and entries the
    * draw skips stay untried for later rounds, so sampling DEFERS
    * meetings instead of dropping them. (A first implementation
    * filtered each round's incidence lists independently; skipped
    * old-old meetings then never recurred and sf0.1 recall collapsed
    * 0.934 → 0.479 — the flag is load-bearing, not bookkeeping.)
    * MEASURED (k=10, iters=5, structure-free synthetic embeddings —
    * the hard case): ρ=0.5 holds recall@10 at 0.997/0.991/0.910 vs
    * the full descent's 0.998/0.991/0.934, for roughly half the
    * activated-meeting volume. DedupSpec pins the 0.7 floor at the
    * gated SF.
    *
    * A rho ≤ 0 argument means [[RhoAuto]]: the full descent, ρ = 1, at
    * every corpus size. Because skipped entries activate in a later
    * round, ρ=0.5 barely shrinks the activated-meeting volume over a
    * fixed iters=5, so on a paired cold 200k-vector build it saved no
    * wall-clock (1783.8 s vs ρ=1's 1487.1 s, each in a fresh JVM) and
    * lost recall (0.910 vs 0.934). An explicit positive ρ is honored
    * verbatim. */
  def knnGraphNnDescent(emb: DataFrame, k: Int, iters: Int,
                        initRounds: Int, bucketSize: Int, buildK: Int,
                        seed: Long, rho: Double): DataFrame = {
    val fp = corpusFp(emb, Seq("vec_id", "embedding"))
    val kb = if (buildK > 0) buildK else 2 * k
    // the resolved ρ — not the [[RhoAuto]] sentinel — keys the
    // namespace/registry
    val rhoEff = if (rho > 0.0) rho else 1.0
    val key = nndescentKey(fp, kb, iters, initRounds, bucketSize, seed,
      rhoEff)
    // a populated resume store FOR THIS build means a restarted driver
    // mid-descent: the store, not the registry, is the source of truth
    // (and the kill-resume spec plants exactly that state) — never
    // serve a cache hit across a resume boundary. Rounds under any
    // OTHER namespace belong to a different (corpus, params) build and
    // are invisible here.
    // the converged graph is a PURE FUNCTION of (corpus, params) — the
    // registry argument verbatim: four gated queries consume the same
    // graph, so per-query rebuilds were pure job-count waste (bench:
    // ~7 s per rebuild at sf0.1, 8 rebuilds across the two passes).
    // The registry holds the FULL kb-WIDE artifact and truncation
    // happens outside it: a k=10 probe caller and a buildK=kb consumer
    // ([[knnGraphAppend]]'s base, [[knnGraphForget]]) run the exact
    // same descent, so keying on (kb, not k/buildK) shares ONE build
    // between them instead of re-descending per requested width.
    val wide =
      if (Checkpoints.resumable(emb.sparkSession, "nndescent", key))
        knnGraphNnDescentBuild(emb, kb, iters, initRounds,
          bucketSize, kb, seed, rhoEff, key)
      else nnGraphCache.computeIfAbsent(
        (fp, kb, iters, initRounds, bucketSize, seed, rhoEff),
        _ => knnGraphNnDescentBuild(emb, kb, iters, initRounds,
          bucketSize, kb, seed, rhoEff, key))
    if (kb == k) wide else wide.filter(col("rn") <= k)
  }

  private val nnGraphCache = new java.util.concurrent.ConcurrentHashMap[
    ((Long, String), Int, Int, Int, Int, Long, Double), DataFrame]()

  /** Test hook: drop every cached graph so a spec can force a REAL
    * recompute (the kb-keyed registry otherwise serves any
    * same-(corpus, kb, params) call — which is the point in
    * production, and exactly what a determinism test must bypass). */
  private[graft] def clearNnGraphCacheForTest(): Unit = nnGraphCache.clear()

  /** Empty the trained-model registries, so a spec can train cold. */
  private[graft] def clearModelCachesForTest(): Unit = {
    ivfModelCache.clear()
    pqModelCache.clear()
    ivfPqIndexCache.clear()
  }

  private def knnGraphNnDescentBuild(emb: DataFrame, k: Int, iters: Int,
                                     initRounds: Int, bucketSize: Int,
                                     buildK: Int, seed: Long,
                                     rho: Double, key: String): DataFrame = {
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
    val g = nnDescendRounds(u, nnTopK(kb, nnScore(u, initPairs),
      empty.withColumn("tried", lit(false))), iters, kb, rho, seed,
      Some(key))
    // truncate the over-built graph to the requested k
    if (kb == k) g else g.filter(col("rn") <= k)
  }

  // ---- shared NN-Descent machinery (cold build + incremental append) ----

  /** One exact 6-dp dot per fresh pair; both vector joins id equi-joins. */
  private def nnScore(u: DataFrame, pairs: DataFrame): DataFrame =
    pairs
      .join(u.select(col("vec_id").as("a"), col("v").as("va")), Seq("a"))
      .join(u.select(col("vec_id").as("b"), col("v").as("vb")), Seq("b"))
      .select(col("a"), col("b"),
        round(dot_native(col("va"), col("vb")), 6).as("sim"))

  /** Per-node top-kb over prior directed edges ∪ both directions of the
    * fresh scored pairs (fresh pairs are anti-joined against the prior
    * pair set upstream, so the union never duplicates a key). */
  /** `prior` carries the per-entry TRIED flag (Dong §2.3's incremental-
    * search bit, stored in the list itself); fresh entries enter
    * untried. Both directions come from ONE explode over the scored
    * pairs, not a self-union — the r19 union form re-executed the whole
    * scoring subtree (candidate joins + dot products) once per
    * direction, a full candidate-scoring pass wasted per round at any
    * scale. Row multiset identical, so the top-kb window is unchanged. */
  private def nnTopK(kb: Int, fresh: DataFrame,
                     prior: DataFrame): DataFrame = {
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

  /** `iters` descent rounds over the kb-wide round-0 graph `g0`,
    * returned as (query_id, nn_id, sim, rn). A `key` resumes and
    * snapshots the rounds (the cold-build path); None runs store-less
    * — the bounded append and forget paths, whose restart story is the
    * stored BASE graph, not round files. Resuming is sound because a
    * round is a pure function of (corpus, params, round number, the
    * previous round's graph). */
  private def nnDescendRounds(u: DataFrame, g0: DataFrame, iters: Int,
                              kb: Int, rho: Double, seed: Long,
                              key: Option[String]): DataFrame =
    Checkpoints.rounds("nndescent", key, iters)(g0) { (prev, i) =>
      // Dong's REVERSE SAMPLING (§2.3): B(v) = forward(v) ∪ a ≤kb sample
      // of reverse(v). Forward lists are ≤ kb by construction; reverse
      // lists are UNBOUNDED on hub nodes — at 100× stress (200k
      // near-uniform vectors) unbounded reverse incidence blew Σ|B(v)|²
      // past 230 GB of spill in one round (twice), because a hub with
      // in-degree d contributes d² candidate pairs. The round-salted
      // hash keeps the kept sample rotating, so a hub's dropped reverse
      // edges get later rounds' chances — the ρ-sampling argument,
      // applied where it is mandatory rather than optional.
      //
      // Dong's NEW/OLD split (§2.3, the local-join optimization): only
      // meetings involving at least one UNTRIED list entry can produce a
      // useful pair — a node's kb-th-best sim is NON-DECREASING, so a
      // pair scored-and-rejected once can never enter later, and
      // re-meeting two tried edges is provably wasted volume (the
      // pre-optimization loop rescored every old-old meeting every round
      // and anti-joined the survivors away). The flag lives IN the list
      // (`tried` column): an entry activates once — when the ρ draw
      // admits it — and ρ-skipped entries stay untried for later rounds,
      // which is exactly where the independent-per-round ρ filter of the
      // first implementation lost recall (old-old meetings never
      // retried). Round volume is |activated|·|B| instead of Σ|B|², and
      // the activated set shrinks as the graph converges.
      //
      // BOTH incidence sets — B over the full graph and B over the
      // activated subset — come out of ONE window pass over the edge
      // list (r19 ran incidence() twice: two window sorts, two distincts,
      // then a node-keyed self-join — 4 extra Exchanges per round; at
      // 100 TB each was an edge-list-scale shuffle). Exactness: the
      // window's (hash, nb) order is TOTAL per node ((node, nb) unique —
      // g holds one row per (query_id, nn_id)), and a subset inherits
      // the superset's order, so the activated subset's row_number
      // equals the running count of activated rows in the full order.
      // Per-node sets are collect_set arrays (≤ 2·kb entries — bounded
      // by construction), so candidate pairs are generated by a local
      // explode instead of the self-join. Candidate SET identical:
      // NnDescentEquivalenceSpec pins it against the unfused reference.
      //
      // A snapshot without the tried flag (a spec-planted round) resumes
      // with every entry untried — over-scoring, same results.
      val g = if (prev.columns.contains("tried")) prev
              else prev.withColumn("tried", lit(false))
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
      val prior = g.withColumn("tried", col("tried") || passNow)
      nnTopK(kb, nnScore(u, fresh), prior)
    }((_, n) => n >= iters).select("query_id", "nn_id", "sim", "rn")

  /** INCREMENTAL graph maintenance — the "appends just descend into the
    * existing graph" claim as code, the daily-embedding-ingest shape
    * for the graph tier (the IVFADC tier's [[ivfPqAppend]] twin, minus
    * any frozen model to go stale): the BASE corpus's converged kb-wide
    * graph (the stored artifact; registry-cached here) seeds the union
    * run, arrivals get bucket-seeded candidate edges against the WHOLE
    * union (base vectors included — an arrival's neighbors are mostly
    * old), and `appendIters` descent rounds propagate — old nodes'
    * lists repair where an arrival displaced a neighbor, new nodes'
    * lists converge through the neighbors-of-neighbors walk. Work:
    * init pairs are increment-bounded (each bucket pair touches ≥ 1 new
    * node), and each round is the standard Σ|B(v)|² incidence join —
    * never a rebuild, never N² — vs the cold build's initRounds+iters
    * full passes. MEASURED full-graph recall@10 with a 1/8 increment
    * and 2 append rounds: 0.992/0.989/0.890 at the three SFs — within
    * noise of the cold build's 0.998/0.991/0.934, for a fraction of
    * its descent work. */
  def knnGraphAppend(base: DataFrame, inc: DataFrame, k: Int = 10,
                     appendIters: Int = 2, initRounds: Int = 4,
                     bucketSize: Int = 8, seed: Long = 41L): DataFrame =
    knnGraphAppendWide(base, inc, k, appendIters, initRounds,
      bucketSize, seed)
      .filter(col("rn") <= k).select("query_id", "nn_id", "sim", "rn")

  /** [[knnGraphAppend]] WITHOUT the final k-truncation — returns the
    * kb-wide appended graph so a composition ([[graphLifecycleGate]])
    * can keep operating on the over-built artifact (forget repair
    * needs the full width: truncation throws away exactly the margin
    * a later tombstone would promote). */
  private[operators] def knnGraphAppendWide(base: DataFrame,
      inc: DataFrame, k: Int = 10, appendIters: Int = 2,
      initRounds: Int = 4, bucketSize: Int = 8,
      seed: Long = 41L): DataFrame = {
    val kb = 2 * k
    // the stored artifact: passing k = buildK = kb makes the public
    // entry return the FULL over-built width (and serve from registry)
    val baseGraph = knnGraphNnDescent(base, kb, 5, initRounds,
      bucketSize, kb, seed)
    val all = base.unionByName(inc)
    val u = Checkpoints.scratch(
      all.select(col("vec_id"),
        unitVec(toDoubleVec(col("embedding"))).as("v")))
    val n = u.count()
    val empty = u.select(col("vec_id").as("query_id"),
      col("vec_id").as("nn_id"), lit(0.0d).as("sim"), lit(0).as("rn"))
      .filter(lit(false))
    if (n < 2) return empty
    val newIds = inc.select(col("vec_id")).distinct()
    val nBuckets = math.max(1L, n / bucketSize)
    // seed the arrivals: bucket the UNION (new co-buckets with old),
    // keep only pairs touching >= 1 new node — base-base candidate
    // structure already lives in the base graph
    val rounds = (0 until initRounds).map { r =>
      u.select(col("vec_id"), lit(r).as("r"),
        pmod(xxhash64(col("vec_id"), lit(seed + 500 + r)), lit(nBuckets))
          .as("bkt"))
    }.reduce(_ unionAll _)
    val newSide = rounds.join(newIds, Seq("vec_id"), "left_semi")
    val initPairs = newSide.as("x").join(rounds.as("y"), Seq("r", "bkt"))
      .filter(col("x.vec_id") =!= col("y.vec_id"))
      .select(least(col("x.vec_id"), col("y.vec_id")).as("a"),
        greatest(col("x.vec_id"), col("y.vec_id")).as("b"))
      .distinct()
    // base entries enter TRIED (their meetings all happened during the
    // base build) — the append rounds activate only the fresh entries,
    // which keeps round volume increment-bounded by construction
    nnDescendRounds(u, nnTopK(kb, nnScore(u, initPairs),
        baseGraph.withColumn("tried", lit(true))), appendIters, kb, 1.0,
      seed + 900, None)
  }

  /** Gate for [[knnGraphAppend]] (the [[nndescentGate]] pattern over
    * the reindex-gate 1/8 split): base = the 7/8 earliest vec_ids,
    * increment = the rest, appended graph measured against the exact
    * top-k of the FULL union on a deterministic node sample. full_k
    * pins that arrivals AND repaired old nodes all hold min(k, N−1)
    * edges; counts are exact SQL on the corpus count. */
  def nndescentAppendGate(s: SparkSession, dir: String, k: Int = 10,
                          recallFloor: Double = 0.6,
                          sampleN: Int = 200): DataFrame = {
    import s.implicits._
    import graft.sources.Tables
    val emb = Tables.embeddings(s, dir)
    val nNow = emb.count()
    val nInc = nNow / 8
    val nBase = nNow - nInc
    // empty corpus: no threshold exists — the appended graph of an
    // empty union is empty, every flag vacuously holds
    if (nNow == 0L)
      return Seq((0L, 0L, 0L, 1, 1))
        .toDF("n_base", "n_inc", "n_edges", "full_k", "recall_ok")
    val thr = prefixThreshold(emb, nBase)
    // no scratch: the append path ends in a materialized round, and
    // the audit below is the frame's only consumer — re-checkpointing
    // it was one whole extra action per gate for nothing
    val g = knnGraphAppend(emb.filter(col("vec_id") <= thr),
        emb.filter(col("vec_id") > thr), k)
      .select("query_id", "nn_id")
    val kEff = Audit.kEff(k, nNow)
    val bf = knnBruteForce(emb, Audit.recallSample(emb, sampleN), k)
      .select("query_id", "nn_id")
    val nSample = math.min(sampleN.toLong, nNow)
    // one left-join aggregate decides edge count AND recall hits (bf
    // pairs unique per (query, nn) — multiplicity safe) — guide §1.2
    val gAudit = Audit.hits(g, bf, Seq("query_id", "nn_id")).head()
    val fullK = if (gAudit.getLong(0) == nNow * kEff) 1 else 0
    val recallOk =
      Audit.recallOk(gAudit.getLong(1), nSample * kEff, recallFloor)
    Seq((nBase, nInc, nNow * kEff, fullK, recallOk))
      .toDF("n_base", "n_inc", "n_edges", "full_k", "recall_ok")
  }

  /** Hash-checked gate for [[knnGraphNnDescent]]: graph shape counts
    * plus a recall floor vs the exact graph, restated as oracle
    * constants (the knnRecallGates pattern). Recall is measured on a
    * deterministic `sampleN`-node sample (lowest xxhash64(vec_id, 99))
    * — the scale-correct shape: the GRAPH builds on the full corpus,
    * only the exact ground truth is sample-bounded, so the gate's cost
    * is sampleN·N instead of N² and survives any corpus size. full_k
    * is graph-wide: every node must hold exactly min(k, N−1) edges. */
  def nndescentGate(emb: DataFrame, k: Int = 10,
                    recallFloor: Double = 0.6,
                    sampleN: Int = 200): DataFrame = {
    import emb.sparkSession.implicits._
    // no scratch: the descent ends in a materialized (registry-held)
    // round and the audit is the only consumer
    val g = knnGraphNnDescent(emb, k).select("query_id", "nn_id")
    val n = emb.count()
    val kEff = Audit.kEff(k, n)
    val bf = knnBruteForce(emb, Audit.recallSample(emb, sampleN), k)
      .select("query_id", "nn_id")
    val nSample = math.min(sampleN.toLong, n)
    // one left-join aggregate for edge count + recall hits — guide §1.2
    val gAudit = Audit.hits(g, bf, Seq("query_id", "nn_id")).head()
    val nEdges = gAudit.getLong(0)
    val fullK = if (nEdges == n * kEff) 1 else 0
    val recallOk =
      Audit.recallOk(gAudit.getLong(1), nSample * kEff, recallFloor)
    Seq((n, nEdges, fullK, recallOk))
      .toDF("n_nodes", "n_edges", "full_k", "recall_ok")
  }

  /** HUBNESS audit of the approximate k-NN graph — the embedding-space
    * pathology check a retrieval/dedup deployment runs before trusting
    * neighbor structure: in high-dimensional or collapsed embedding
    * spaces a few "hub" vectors appear in a large fraction of all
    * neighbor lists (Radovanović et al., JMLR 2010), silently skewing
    * graph dedup toward giant components and retrieval toward the same
    * results for every query. Long-format in-degree histogram
    * (in_degree, n_nodes) over [[knnGraphNnDescent]]'s edges, with
    * never-retrieved vectors counted in the in_degree = 0 row — the
    * two tails a reviewer reads (orphans and hubs). Work: one
    * N·k-row aggregation + a left join back to the corpus ids; the
    * histogram is ≤ N rows and in practice tiny. Approximate graph →
    * rows-only; [[hubnessGate]] is the hash-green companion. */
  def knnGraphHubness(emb: DataFrame, k: Int = 10): DataFrame = {
    val g = knnGraphNnDescent(emb, k)
    val indeg = g.groupBy(col("nn_id")).agg(count(lit(1)).as("in_degree"))
    emb.select(col("vec_id").as("nn_id"))
      .join(indeg, Seq("nn_id"), "left")
      .select(coalesce(col("in_degree"), lit(0L)).as("in_degree"))
      .groupBy("in_degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy("in_degree")
  }

  /** Conservation + bounds invariants of [[knnGraphHubness]], restated
    * as oracle constants: the histogram's node mass is exactly N
    * (every vector appears in exactly one in-degree bucket), its edge
    * mass Σ in_degree·n_nodes is exactly N·min(k, N−1) (every directed
    * graph edge lands on exactly one target), and no in-degree exceeds
    * N−1. All three are exact SQL on the corpus count. */
  def hubnessGate(emb: DataFrame, k: Int = 10): DataFrame = {
    import emb.sparkSession.implicits._
    // no scratch: the histogram is bounded and the agg below is its
    // only consumer
    val h = knnGraphHubness(emb, k)
    val n = emb.count()
    val kEff = Audit.kEff(k, n)
    val r = h.agg(
      coalesce(sum(col("in_degree") * col("n_nodes")), lit(0L)),
      coalesce(sum("n_nodes"), lit(0L)),
      coalesce(max("in_degree"), lit(0L))).head()
    val (edgeMass, nodeMass, maxIn) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    Seq((n, n * kEff,
      if (edgeMass == n * kEff) 1 else 0,
      if (nodeMass == n) 1 else 0,
      if (maxIn <= math.max(n - 1, 0L)) 1 else 0))
      .toDF("n_nodes", "n_edges", "edge_mass_ok", "node_mass_ok",
        "bound_ok")
  }

  /** The IVFADC code-row columns a store content fingerprint covers. */
  private[graft] val CodeCols = Seq("nn_id", "cell", "codes")

  /** STORED-INDEX round-trip gate — §9's "the index is a table you
    * persist `partitionBy(cell)`" claim driven END-TO-END as a gated
    * query (SourcesSpec pins the pruning mechanics — PartitionFilters
    * + numFiles = probed dirs; this pins the RESULT a deployment
    * depends on): build the deployed-shape index, persist it
    * cell-partitioned to `out`, re-read the FILES, and pin
    * (a) `store_complete`: the store holds exactly one row per
    * corpus vector; (b) `store_match`: stored rows reproduce the
    * in-memory index bit-for-bit (order-independent xxhash64 content
    * checksum over (nn_id, cell, codes) — a partition-column type or
    * codes-array corruption in the write/read path flips it);
    * (c) `probe_match`: a probe served FROM THE FILES under the
    * shipped policies returns row-for-row the in-memory probe's
    * result. Counts SQL-exact, flags pinned. */
  def ivfPqStoreGate(s: SparkSession, dir: String, out: String,
                     k: Int = 5): DataFrame = {
    import s.implicits._
    import graft.sources.Tables
    val emb = Tables.embeddings(s, dir)
    // one scan for corpus + probe-query counts — guide §1.2
    val Seq(n, nq) = Audit.counts(emb, col("vec_id") < 10)
    val queries = emb.filter(col("vec_id") < 10)
    def row(f: (Int, Int, Int)) = Seq((n, nq, f._1, f._2, f._3))
      .toDF("n_emb", "n_queries", "store_complete", "store_match",
        "probe_match")
    if (n == 0L) return row((1, 1, 1))
    val cells = scaledCells(n)
    val (cents, cb, index0) = ivfPqIndex(emb, cells)
    if (cents.isEmpty || cb.isEmpty) return row((1, 1, 1))
    // the index feeds FOUR actions (store write, both content
    // fingerprints, the in-memory probe) — scratch the codes table
    // once instead of re-encoding the corpus per action (codes are
    // ~32 B/row, far narrower than the embeddings they derive from)
    val index = Checkpoints.scratch(index0)
    index.write.mode("overwrite").partitionBy("cell").parquet(out)
    val stored = s.read.parquet(out)
      .select(col("nn_id"), col("cell").cast("int").as("cell"),
        col("codes"))
    // mem-vs-disk fingerprints are independent reads — overlap (§2.6)
    val ((cntMem, hMem), (cntDisk, hDisk)) = Audit.parallel(
      Audit.fingerprint(index, CodeCols), Audit.fingerprint(stored, CodeCols))
    val storeComplete = if (cntDisk == n) 1 else 0
    val storeMatch = if (cntMem == cntDisk && hMem == hDisk) 1 else 0
    val rr = scaledRerank(n)
    val np = scaledNprobe(n, cells, rr)
    def probe(idx: DataFrame) = knnIvfPqWith(emb, idx, cents, cb, queries,
      k, np, rr, residual = false)
    val (fpProbeMem, fpProbeDisk) = Audit.parallel(
      Audit.probeFingerprint(probe(index)),
      Audit.probeFingerprint(probe(stored)))
    val probeMatch = if (fpProbeMem == fpProbeDisk) 1 else 0
    row((storeComplete, storeMatch, probeMatch))
  }

  /** CELL-COMPACTION gate — the small-files half of the
    * partition-append story ([[ivfPqStoreGate]]'s sequel): every
    * [[ivfPqAppend]] ingest partition-appends one-or-more NEW files
    * into each touched cell dir, so after k ingests a probe pays k×
    * the footer/open cost per probed cell — file COUNT, not data
    * size, becomes the scan bottleneck (the classic streaming-sink
    * pathology). Compaction is a metadata-shape rewrite: read the
    * store, repartition BY THE CELL KEY so each cell's rows land in
    * one task, rewrite `partitionBy(cell)` — content-identical, one
    * file per occupied cell. (At 100 TB the repartition key is a
    * cell-to-task BIN-PACKING targeting the DFS block size rather
    * than one-task-per-cell; the rewrite shape — shuffle by cell,
    * partitioned write, no recompute of codes — is the same.)
    *
    * The gate replays the whole episode: the deployed-shape index
    * lands as append slices through the real partitioned-write
    * path (≥slices files per touched cell), compacts, and pins
    * (a) `files_reduced`: the compacted store holds at most one file
    * per occupied cell and strictly fewer files than the appended
    * store; (b) `content_match`: compacted rows reproduce the
    * in-memory index exactly (count + order-independent checksum);
    * (c) `probe_match`: a probe served from the COMPACTED files
    * equals the in-memory probe row-for-row. Corpus/query counts and
    * the cell-count policy are SQL-exact.
    *
    * `benchSized = true` (the GATED invocation) shrinks the episode
    * to what the shape proof needs — 2 slices over ~√N/2 cells
    * instead of 4 over ~4√N — because the flags it pins are
    * cell-count-independent while the episode's wall-clock is pure
    * file-metadata (the r15 bench paid 9.3 s creating ~700 files to
    * prove a ≤-one-file-per-cell contract 44 files prove equally).
    * The FULL 4-slice scaledCells episode — the small-files
    * pathology priced end-to-end — stays in ScaleStress, where the
    * 100× row measures its 4.8×/decade file-metadata slope. */
  def ivfPqCompactGate(s: SparkSession, dir: String, out: String,
                       k: Int = 5,
                       benchSized: Boolean = false): DataFrame = {
    import s.implicits._
    import graft.sources.Tables
    val emb = Tables.embeddings(s, dir)
    // one scan for corpus + probe-query counts — guide §1.2
    val Seq(n, nq) = Audit.counts(emb, col("vec_id") < 10)
    val queries = emb.filter(col("vec_id") < 10)
    val slices = if (benchSized) 2 else 4
    // bench arm: ceil(√N/2), floored at 1, never above the policy
    // cell count (the oracle recomputes this arithmetic exactly)
    val cells =
      if (benchSized)
        benchSizedCells(n)
      else scaledCells(n)
    def row(f: (Int, Int, Int)) = Seq((n, nq, cells, f._1, f._2, f._3))
      .toDF("n_emb", "n_queries", "cells", "files_reduced",
        "content_match", "probe_match")
    if (n == 0L) return row((1, 1, 1))
    val (cents, cb, index0) = ivfPqIndex(emb, cells)
    if (cents.isEmpty || cb.isEmpty) return row((1, 1, 1))
    // the index feeds slices+3 actions (slice writes, occupied count,
    // content fingerprint, in-memory probe) — scratch the codes table
    // once instead of re-encoding the corpus per action
    val index = Checkpoints.scratch(index0)
    // ingest episodes through the real partition-append path
    val appended = s"$out/appended"
    (0 until slices).foreach { i =>
      index.filter(pmod(col("nn_id"), lit(slices)) === i)
        .write.mode(if (i == 0) "overwrite" else "append")
        .partitionBy("cell").parquet(appended)
    }
    def dataFiles(p: String): Long = {
      val root = new org.apache.hadoop.fs.Path(p)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(root, true)
      var c = 0L
      while (it.hasNext) {
        val f = it.next().getPath.getName
        if (f.startsWith("part-")) c += 1
      }
      c
    }
    def readStore(p: String) = s.read.parquet(p)
      .select(col("nn_id"), col("cell").cast("int").as("cell"),
        col("codes"))
    // compact: all of a cell's rows into one task, one file per cell
    val compacted = s"$out/compacted"
    readStore(appended).repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(compacted)
    val filesBefore = dataFiles(appended)
    val filesAfter = dataFiles(compacted)
    val occupied = index.select("cell").distinct().count()
    // the contract is the compacted SHAPE (≤ one file per occupied
    // cell, never more files than before) — a corpus whose 4 append
    // slices each hit disjoint cells starts at one-file-per-cell
    // already, so a strict `<` would flag the healthy fixpoint
    val filesReduced =
      if (filesAfter <= occupied && filesAfter <= filesBefore) 1 else 0
    // mem-vs-compacted fingerprints are independent reads — overlap
    val ((cntMem, hMem), (cntC, hC)) = Audit.parallel(
      Audit.fingerprint(index, CodeCols),
      Audit.fingerprint(readStore(compacted), CodeCols))
    val contentMatch = if (cntMem == cntC && hMem == hC) 1 else 0
    val rr = scaledRerank(n)
    val np = scaledNprobe(n, cells, rr)
    def probe(idx: DataFrame) = knnIvfPqWith(emb, idx, cents, cb, queries,
      k, np, rr, residual = false)
    val (fpProbeMem, fpProbeC) = Audit.parallel(
      Audit.probeFingerprint(probe(index)),
      Audit.probeFingerprint(probe(readStore(compacted))))
    val probeMatch = if (fpProbeMem == fpProbeC) 1 else 0
    row((filesReduced, contentMatch, probeMatch))
  }

  // ---- right-to-be-forgotten for the vector tier ----

  /** Tombstone a deleted-id set out of a stored (nn_id, cell, codes)
    * IVFADC index: one anti-join on the id — at scale a
    * partition-preserving rewrite of only the cell files that held
    * deleted rows (the cell column is untouched, so surviving rows
    * keep their partition and no probe path changes). The other half
    * of index lifecycle next to [[ivfPqAppend]]: appends encode under
    * frozen models, deletions subtract rows under the same models —
    * neither retrains, so [[ivfPqReindexGate]]'s cadence still governs
    * when cells re-provision. */
  def ivfPqForget(index: DataFrame, deletedIds: DataFrame): DataFrame =
    index.join(deletedIds.select(col("vec_id").as("nn_id")),
      Seq("nn_id"), "left_anti")

  /** Forget a deleted-id set from the NN-Descent k-NN graph and REPAIR
    * the survivors' lists with bounded descent — the
    * [[knnGraphAppend]] machinery in reverse, extending the
    * `cascade_delete_audit` right-to-be-forgotten contract to the
    * graph tier:
    *
    *  - TOMBSTONE: every edge with a deleted endpoint is anti-joined
    *    away (deleted nodes' own lists, and deleted entries inside
    *    survivors' lists);
    *  - RE-ACTIVATE: survivors that lost an entry flip their remaining
    *    entries untried — the next rounds re-join exactly those
    *    neighborhoods (affected-node-bounded volume, the tried-flag
    *    discipline), while intact nodes stay tried and contribute no
    *    candidate pairs of their own;
    *  - RE-SEED: affected nodes also get bucket-seeded candidate pairs
    *    against the survivor corpus (the append path's init in
    *    reverse) — so even a node orphaned entirely (every neighbor
    *    deleted, empty incidence list) rebuilds a list;
    *  - `repairRounds` descent rounds propagate; the final window
    *    truncates to k.
    *
    * Work: tombstoning is two keyed anti-joins over N·kb edge rows;
    * repair volume is bounded by the affected set (deleted-id
    * neighborhoods), never a rebuild — the forget cost a deployment
    * pays per erasure request. [[vectorForgetGate]] pins zero deleted
    * ids anywhere, full-k lists, and survivor recall. */
  def knnGraphForget(emb: DataFrame, deletedIds: DataFrame, k: Int = 10,
                     repairRounds: Int = 2, initRounds: Int = 4,
                     bucketSize: Int = 8, seed: Long = 41L): DataFrame =
    // the stored artifact: full over-built width, registry-served
    knnGraphForgetOf(
      knnGraphNnDescent(emb, 2 * k, 5, initRounds, bucketSize, 2 * k,
        seed),
      emb, deletedIds, k, repairRounds, initRounds, bucketSize, seed)

  /** [[knnGraphForget]] against an ALREADY-BUILT kb-wide graph — the
    * composition entry ([[graphLifecycleGate]] forgets from the graph
    * the append stage just produced, not from a fresh build). */
  private[operators] def knnGraphForgetOf(g: DataFrame, emb: DataFrame,
      deletedIds: DataFrame, k: Int = 10, repairRounds: Int = 2,
      initRounds: Int = 4, bucketSize: Int = 8,
      seed: Long = 41L): DataFrame = {
    val kb = 2 * k
    val del = deletedIds.select(col("vec_id")).distinct()
    val survivors = emb.join(del, Seq("vec_id"), "left_anti")
    val u = Checkpoints.scratch(
      survivors.select(col("vec_id"),
        unitVec(toDoubleVec(col("embedding"))).as("v")))
    val n = u.count()
    val empty = u.select(col("vec_id").as("query_id"),
      col("vec_id").as("nn_id"), lit(0.0d).as("sim"), lit(0).as("rn"))
      .filter(lit(false))
    if (n < 2) return empty
    val delQ = del.select(col("vec_id").as("query_id"))
    val delN = del.select(col("vec_id").as("nn_id"))
    // survivors that lost >= 1 entry (their list referenced a deleted
    // id) — the repair's activation set
    val affected = g.join(delN, Seq("nn_id"), "left_semi")
      .join(delQ, Seq("query_id"), "left_anti")
      .select(col("query_id").as("vec_id")).distinct()
    // tombstoned graph: affected survivors re-enter UNTRIED so the
    // descent re-joins their neighborhoods; intact lists stay tried
    val kept = g.join(delQ, Seq("query_id"), "left_anti")
      .join(delN, Seq("nn_id"), "left_anti")
      .join(affected.select(col("vec_id").as("query_id"))
        .withColumn("aff", lit(true)), Seq("query_id"), "left")
      .select(col("query_id"), col("nn_id"), col("sim"),
        coalesce(!col("aff"), lit(true)).as("tried"))
    // bucket-seeded pairs touching >= 1 affected node (orphan
    // insurance + fresh candidates), over the SURVIVOR corpus only
    val nBuckets = math.max(1L, n / bucketSize)
    val rounds = (0 until initRounds).map { r =>
      u.select(col("vec_id"), lit(r).as("r"),
        pmod(xxhash64(col("vec_id"), lit(seed + 1300 + r)), lit(nBuckets))
          .as("bkt"))
    }.reduce(_ unionAll _)
    val affSide = rounds.join(affected, Seq("vec_id"), "left_semi")
    val initPairs = affSide.as("x").join(rounds.as("y"), Seq("r", "bkt"))
      .filter(col("x.vec_id") =!= col("y.vec_id"))
      .select(least(col("x.vec_id"), col("y.vec_id")).as("a"),
        greatest(col("x.vec_id"), col("y.vec_id")).as("b"))
      .distinct()
    nnDescendRounds(u, nnTopK(kb, nnScore(u, initPairs), kept),
      repairRounds, kb, 1.0, seed + 1700, None).filter(col("rn") <= k)
  }

  /** Hash-checked right-to-be-forgotten gate for the vector tier —
    * the `cascade_delete_audit` contract extended to the ANN index
    * and the k-NN graph. The doomed set is the cascade convention
    * (`vec_id % 97 = 0`); both artifacts forget it through the real
    * paths ([[ivfPqForget]] / [[knnGraphForget]]) and the gate pins:
    * zero deleted ids in any surviving cell row (`index_clean`) or
    * neighbor list, either endpoint (`graph_clean`); exact survivor
    * conservation (`index_count_ok`); every survivor still holding
    * min(k, n_surv−1) edges after repair (`graph_full_k`); and
    * survivor recall vs brute-force-over-survivors still clearing
    * `recallFloor` (`recall_ok`) on a deterministic node sample —
    * forgetting must not degrade the survivors' index. Counts are
    * SQL-exact; flags pin the measured contract. */
  def vectorForgetGate(s: SparkSession, dir: String, k: Int = 10,
                       recallFloor: Double = 0.6,
                       sampleN: Int = 200): DataFrame = {
    import s.implicits._
    import graft.sources.Tables
    val emb = Tables.embeddings(s, dir)
    // one scan for both scalars (corpus + doomed counts) — guide §1.2
    val Seq(nEmb, nDel) = Audit.counts(emb, col("vec_id") % 97 === 0)
    val del = emb.filter(col("vec_id") % 97 === 0).select("vec_id")
    val nSurv = nEmb - nDel
    if (nEmb == 0L)
      return Seq((0L, 0L, 1, 1, 1, 1, 1))
        .toDF("n_emb", "n_del", "index_clean", "index_count_ok",
          "graph_clean", "graph_full_k", "recall_ok")
    val nSample = math.min(sampleN.toLong, nSurv)
    // INDEX side and GRAPH side are independent pipelines over the
    // same corpus — overlap them (§2.6): each is a chain of small
    // jobs whose stage tails leave most cores idle
    val ((degenerateIdx, idxAudit), gAudit) = Audit.parallel({
      // INDEX side: deployed-shape build, then the forget anti-join
      val (cents, cb, index) = ivfPqIndex(emb, scaledCells(nEmb))
      val fIdx = Checkpoints.scratch(ivfPqForget(index, del))
      (cents.isEmpty || cb.isEmpty,
        Audit.counts(fIdx, col("nn_id") % 97 === 0))
    }, {
      // GRAPH side: tombstone + bounded repair; survivor recall = the
      // repaired graph vs exact top-k over the survivor corpus, on
      // the nndescentGate node sample. No scratch: the repair path
      // ends in a materialized round, single consumer below
      val g = knnGraphForget(emb, del, k).select("query_id", "nn_id")
      val survivors = emb.join(del, Seq("vec_id"), "left_anti")
      val bf = knnBruteForce(survivors,
          Audit.recallSample(survivors, sampleN), k)
        .select("query_id", "nn_id")
      // ONE pass over the scratched graph for edge count, recall hits
      // AND doomed residue (bf pairs unique per (query, nn)) — guide §1.2
      Audit.hits(g, bf, Seq("query_id", "nn_id"),
        coalesce(sum(((col("query_id") % 97 === 0) ||
          (col("nn_id") % 97 === 0)).cast("long")), lit(0L))).head()
    })
    val indexClean = if (idxAudit(1) == 0L) 1 else 0
    val indexCountOk =
      if (degenerateIdx) 1 // degenerate: empty index
      else if (idxAudit(0) == nSurv) 1 else 0
    val graphClean = if (gAudit.getLong(2) == 0L) 1 else 0
    val kEff = Audit.kEff(k, nSurv)
    val graphFullK = if (gAudit.getLong(0) == nSurv * kEff) 1 else 0
    val recallOk =
      Audit.recallOk(gAudit.getLong(1), nSample * kEff, recallFloor)
    Seq((nEmb, nDel, indexClean, indexCountOk, graphClean, graphFullK,
      recallOk))
      .toDF("n_emb", "n_del", "index_clean", "index_count_ok",
        "graph_clean", "graph_full_k", "recall_ok")
  }

  /** GRAPH-LIFECYCLE capstone — [[ivfPqLifecycleGate]]'s twin for the
    * codebook-free tier, composing the graph's whole deployment story
    * as ONE gated plan over one LIVING artifact: the base corpus's
    * converged kb-wide graph (7/8 prefix, registry-served) takes the
    * 1/8 arrival increment through the real [[knnGraphAppendWide]]
    * descent, then an erasure request forgets the doomed set (the
    * cascade `% 97` convention) from the graph THE APPEND JUST
    * PRODUCED via [[knnGraphForgetOf]] — tombstone + affected-bounded
    * repair on the living artifact, never a rebuild anywhere in the
    * chain — and the surviving graph re-gates shape and recall. The
    * individually-gated stages (`nndescent_append_gate`,
    * `vector_forget_gate`) each start from a fresh build; this gate
    * pins that the composition holds on one artifact passed through
    * both mutations, which is what a deployment actually runs.
    * Counts SQL-exact; `graph_clean` (no doomed endpoint), `full_k`
    * (every survivor at min(k, n_surv−1) edges), `recall_ok` (vs
    * brute force over the survivor corpus, deterministic sample)
    * pinned. */
  def graphLifecycleGate(s: SparkSession, dir: String, k: Int = 10,
                         recallFloor: Double = 0.6,
                         sampleN: Int = 200): DataFrame = {
    import s.implicits._
    import graft.sources.Tables
    val emb = Tables.embeddings(s, dir)
    // one scan for both prelude scalars (corpus count + doomed count)
    // instead of two count jobs — guide §1.2, fewer passes
    val Seq(nNow, nDel) = Audit.counts(emb, col("vec_id") % 97 === 0)
    val nInc = nNow / 8
    val nBase = nNow - nInc
    if (nNow == 0L)
      return Seq((0L, 0L, 0L, 1, 1, 1))
        .toDF("n_base", "n_inc", "n_del", "graph_clean", "full_k",
          "recall_ok")
    val thr = prefixThreshold(emb, nBase)
    val appended = knnGraphAppendWide(emb.filter(col("vec_id") <= thr),
      emb.filter(col("vec_id") > thr), k)
    val del = emb.filter(col("vec_id") % 97 === 0).select("vec_id")
    // no scratch: the repair path ends in a materialized round and the
    // one-pass audit below is the frame's only consumer
    val g = knnGraphForgetOf(appended, emb, del, k)
      .select("query_id", "nn_id")
    val survivors = emb.join(del, Seq("vec_id"), "left_anti")
    val nSurv = nNow - nDel
    val bf = knnBruteForce(survivors,
        Audit.recallSample(survivors, sampleN), k)
      .select("query_id", "nn_id")
    val nSample = math.min(sampleN.toLong, nSurv)
    // ONE pass over the scratched graph decides all three audits —
    // edge count, recall hits, doomed residue (bf pairs unique per
    // (query, nn), so the left join preserves multiplicity) — where
    // the r18 form ran a g-aggregate plus a separate semi-join count
    // (guide §1.2)
    val audit = Audit.hits(g, bf, Seq("query_id", "nn_id"),
      coalesce(sum(((col("query_id") % 97 === 0) ||
        (col("nn_id") % 97 === 0)).cast("long")), lit(0L))).head()
    val kEff = Audit.kEff(k, nSurv)
    val clean = if (audit.getLong(2) == 0L) 1 else 0
    val fullK = if (audit.getLong(0) == nSurv * kEff) 1 else 0
    val recallOk =
      Audit.recallOk(audit.getLong(1), nSample * kEff, recallFloor)
    Seq((nBase, nInc, nDel, clean, fullK, recallOk))
      .toDF("n_base", "n_inc", "n_del", "graph_clean", "full_k",
        "recall_ok")
  }

  /** EMBEDDING-SNAPSHOT drift monitor — the vector-tier twin of the
    * token-histogram drift views (`token_drift` / `token_drift_kl`),
    * closing the ops story for embedding pipelines: an upstream
    * encoder change, a crawl-mix shift, or a broken preprocessing step
    * shows up as CELL-OCCUPANCY drift against a FROZEN codebook long
    * before any recall gate degrades. Yesterday = the 7/8-prefix
    * snapshot (the append convention), today = the full corpus; the
    * yesterday-trained codebook is the lens — BOTH snapshots assign to
    * its cells (scan-fused argmax, no shuffle beyond the ≤C-row
    * occupancy aggregates) and per-cell occupancy shares compare in
    * integer millionths (floor division by the snapshot totals, both
    * driver literals). One row per occupied cell: (cell, n_base,
    * n_now, share_base_millionths, share_now_millionths,
    * delta_millionths). Cell identity comes from the seeded trainer —
    * deterministic but not ANSI-expressible → rows-only;
    * [[embeddingDriftGate]] is the hash-green companion. */
  def embeddingDriftCells(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Tables
    val emb = Tables.embeddings(s, dir)
    val nNow = emb.count()
    val nBase = nNow - nNow / 8
    def empty = Seq.empty[(Int, Long, Long, Long, Long, Long)]
      .toDF("cell", "n_base", "n_now", "share_base_millionths",
        "share_now_millionths", "delta_millionths")
    if (nNow == 0L) return empty
    val thr = prefixThreshold(emb, nBase)
    // counts are already in hand — don't re-count either snapshot
    embeddingDriftCellsOf(emb.filter(col("vec_id") <= thr), emb,
        knownBase = nBase, knownNow = nNow)
      .getOrElse(empty)
  }

  /** [[embeddingDriftCells]] generalized to ARBITRARY base/now
    * snapshots — the form the rebuild-trigger consumer
    * ([[ivfPqReindexDecision]]) needs, where "now" may be a
    * re-encoded corpus rather than a superset. Trains the frozen
    * lens on `base` at the corpus-count cell policy; None when the
    * base is too degenerate to train. */
  private[operators] def embeddingDriftCellsOf(
      base: DataFrame, now: DataFrame,
      knownBase: Long = -1L, knownNow: Long = -1L): Option[DataFrame] = {
    // callers that already hold the snapshot counts pass them in; the
    // default recounts (guide §1.2 — two count jobs saved per call)
    val nBase = if (knownBase >= 0L) knownBase else base.count()
    val nNow = if (knownNow >= 0L) knownNow else now.count()
    def e(df: DataFrame) =
      df.select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
    val eBase = e(base)
    val cents = trainIvf(new Corpus(base), scaledCells(nBase), 3)
    if (cents.isEmpty) return None
    def occ(df: DataFrame, as: String) =
      assignCells(df, cents).groupBy("cell")
        .agg(count(lit(1)).as(as))
    Some(occ(eBase, "n_base").join(occ(e(now), "n_now"), Seq("cell"),
        "full")
      .select(col("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_now"), lit(0L)).as("n_now"))
      .withColumn("share_base_millionths",
        expr(s"n_base * 1000000 DIV ${math.max(nBase, 1L)}"))
      .withColumn("share_now_millionths",
        expr(s"n_now * 1000000 DIV ${math.max(nNow, 1L)}"))
      .withColumn("delta_millionths",
        col("share_now_millionths") - col("share_base_millionths"))
      .orderBy("cell"))
  }

  /** Add-1-smoothed KL(now ‖ base) over a drift-cells frame, in
    * integer millionths — the [[embeddingDriftGate]] convention,
    * floored AFTER the (n_now+1) weight multiply so the integer sum
    * sits at most nCells millionths below the true (Gibbs ≥ 0) KL. */
  private def driftKlMillionths(cellsDf: DataFrame,
                                sb: Long, sn: Long,
                                nCells: Long): Long =
    cellsDf.select(
        floor((col("n_now") + 1).cast("double") *
          (log((col("n_now") + 1).cast("double") /
                lit((sn + nCells).toDouble)) -
           log((col("n_base") + 1).cast("double") /
                lit((sb + nCells).toDouble))) * lit(1000000.0))
          .cast("long").as("term"))
      .agg(coalesce(sum("term"), lit(0L))).head().getLong(0)

  /** Hash-checked gate for [[embeddingDriftCells]]: snapshot sizes are
    * SQL-exact; conservation (every vector of each snapshot lands in
    * exactly one occupancy row), share-sum sanity (Σ floor-divided
    * shares within C millionths of 1e6), cell-range safety, and
    * add-1-smoothed KL(now ‖ base) ≥ 0 over the occupancy rows (the
    * `token_drift_kl` integer-millionths ln discipline) are pinned as
    * flags. */
  def embeddingDriftGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Tables
    val emb = Tables.embeddings(s, dir)
    val nNow = emb.count()
    val nBase = nNow - nNow / 8
    if (nNow == 0L)
      return Seq((0L, 0L, 1, 1, 1, 1, 1))
        .toDF("n_base", "n_now", "base_conserved", "now_conserved",
          "shares_ok", "cells_ok", "kl_ok")
    val cellsDf = Checkpoints.scratch(embeddingDriftCells(s, dir))
    val c = scaledCells(nBase)
    val a = cellsDf.agg(
      coalesce(sum("n_base"), lit(0L)),
      coalesce(sum("n_now"), lit(0L)),
      coalesce(sum("share_base_millionths"), lit(0L)),
      coalesce(sum("share_now_millionths"), lit(0L)),
      coalesce(sum((col("cell") >= 0 && col("cell") < c).cast("long")),
        lit(0L)),
      count(lit(1))).head()
    val (sb, sn, shb, shn, inRange, nCells) =
      (a.getLong(0), a.getLong(1), a.getLong(2), a.getLong(3),
        a.getLong(4), a.getLong(5))
    val baseConserved = if (sb == nBase) 1 else 0
    val nowConserved = if (sn == nNow) 1 else 0
    val sharesOk =
      if (shb <= 1000000L && shb >= 1000000L - nCells &&
          shn <= 1000000L && shn >= 1000000L - nCells) 1 else 0
    val cellsOk = if (inRange == nCells) 1 else 0
    // add-1-smoothed KL(now ‖ base) over occupancy rows, per-term
    // floored to millionths (tokenDriftKl's convention). The floor
    // sits AFTER the (n_now+1) weight multiply — flooring the Δlog
    // first would scale the per-row loss by the weight and sink the
    // sum up to (sn + nCells) millionths below the true KL
    val kl = driftKlMillionths(cellsDf, sb, sn, nCells)
    // true KL of the smoothed distributions is ≥ 0 (Gibbs); per-term
    // flooring loses < 1 millionth per row, so the integer sum may sit
    // at most nCells millionths below zero — anything lower means the
    // occupancy math itself broke
    val klOk = if (kl >= -nCells) 1 else 0
    Seq((nBase, nNow, baseConserved, nowConserved, sharesOk, cellsOk,
      klOk))
      .toDF("n_base", "n_now", "base_conserved", "now_conserved",
        "shares_ok", "cells_ok", "kl_ok")
  }

  /** Default drift-rebuild threshold: 0.1 nats in integer millionths
    * of NORMALIZED (per-vector) KL. Calibration on this testdata
    * (DedupSpec's rebuild-decision case): identical snapshots measure
    * exactly 0 (every floored term cancels), healthy 7/8→full growth
    * measures ~3.3k millionths, the encoder-shift scenario
    * (abs-collapse, [[ivfPqReindexDriftGate]]) ~1.31M — the threshold
    * sits ~30× above the healthy side and ~13× below the drifted
    * side. */
  val DriftKlThresholdMillionths: Long = 100000L

  /** The composed REBUILD DECISION — the consumer the r14 drift
    * monitor lacked: a deployment retrains its IVFADC models when the
    * corpus OUTGROWS the trained cell count (the ≥2×-cells count rule
    * [[ivfPqReindexGate]] pins) **or** when cell occupancy under the
    * frozen codebook has DRIFTED past a KL threshold (encoder change,
    * crawl-mix shift — corpus size unchanged, so the count rule alone
    * never fires; exactly the drifted-but-not-grown blind spot).
    * Returns (count_rebuild, drift_rebuild, rebuild, kl_millionths).
    * Work: the count arm is pure arithmetic; the drift arm is one
    * base-side train + two scan-fused assignment passes into ≤C-row
    * aggregates — the same cost [[embeddingDriftCells]] already pays,
    * now feeding a decision instead of only a dashboard. */
  def ivfPqReindexDecision(base: DataFrame, now: DataFrame,
      klThresholdMillionths: Long = DriftKlThresholdMillionths)
      : (Int, Int, Int, Long) = {
    val nBase = base.count()
    val nNow = now.count()
    val countRebuild =
      if (scaledCells(nNow) >= 2 * scaledCells(nBase)) 1 else 0
    val kl = embeddingDriftCellsOf(base, now) match {
      case None => 0L
      case Some(cellsDf0) =>
        val cellsDf = Checkpoints.scratch(cellsDf0)
        val a = cellsDf.agg(
          coalesce(sum("n_base"), lit(0L)),
          coalesce(sum("n_now"), lit(0L)),
          count(lit(1))).head()
        val (sn, c) = (a.getLong(1), a.getLong(2))
        // the helper's sum is COUNT-WEIGHTED ((n_now+1) per term, the
        // tokenDriftKl convention — a monitor value that scales with
        // the corpus); a threshold decision needs the NORMALIZED KL in
        // nats-millionths, so divide the smoothed mass (sn + C) back
        // out — steady stays exactly 0, and the threshold means the
        // same thing at every corpus size
        driftKlMillionths(cellsDf, a.getLong(0), sn, c) /
          math.max(sn + c, 1L)
    }
    val driftRebuild = if (kl >= klThresholdMillionths) 1 else 0
    (countRebuild, driftRebuild,
      math.max(countRebuild, driftRebuild), kl)
  }

  /** Hash-checked gate for [[ivfPqReindexDecision]] — the two
    * scenarios whose outcomes are structurally forced, one row each:
    *
    *  - `steady`: base = now = the corpus. The count arm sees equal
    *    cells; the drift arm's every floored KL term is IDENTICALLY 0
    *    (same occupancy, same totals) — so `rebuild = 0` is exact, not
    *    probabilistic: the trigger provably never false-positives on
    *    an unchanged corpus.
    *  - `encoder_shift`: now = the same corpus re-encoded through a
    *    deterministic stand-in for an encoder change (per-coordinate
    *    abs — every vector collapses into the positive orthant, so
    *    occupancy under the frozen codebook concentrates onto the few
    *    positive-pointing cells and the smoothed KL lands orders of
    *    magnitude past the threshold). Counts are UNCHANGED, so the
    *    r14 count-only trigger provably never fires here —
    *    `count_rebuild = 0` SQL-exact — while `drift_rebuild = 1`
    *    pins that the composed trigger now catches it.
    *
    * Growth-fired rebuilds are already pinned by `ivfpq_reindex_gate`;
    * this gate pins the OTHER reason to retrain. Corpus count and the
    * cell policy are SQL-exact; drift flags pinned. */
  def ivfPqReindexDriftGate(s: SparkSession, dir: String,
      klThresholdMillionths: Long = DriftKlThresholdMillionths)
      : DataFrame = {
    import s.implicits._
    import graft.sources.Tables
    val emb = Tables.embeddings(s, dir)
    val n = emb.count()
    val cells = scaledCells(n)
    def rows(steady: (Int, Int, Int), shift: (Int, Int, Int)) = Seq(
      ("steady", n, n, cells, steady._1, steady._2, steady._3),
      ("encoder_shift", n, n, cells, shift._1, shift._2, shift._3))
      .toDF("scenario", "n_base", "n_now", "cells", "count_rebuild",
        "drift_rebuild", "rebuild")
    // degenerate corpora can't train the lens — vacuous pinned flags
    if (n == 0L) return rows((0, 0, 0), (0, 1, 1))
    val shifted = emb.select(col("vec_id"),
      transform(col("embedding"), x => abs(x)).as("embedding"))
    val (c1, d1, r1, _) = ivfPqReindexDecision(emb, emb,
      klThresholdMillionths)
    val (c2, d2, r2, _) = ivfPqReindexDecision(emb, shifted,
      klThresholdMillionths)
    rows((c1, d1, r1), (c2, d2, r2))
  }

  /** DRIFT-FIRED REBUILD through the store — the end-to-end consumer
    * composition: [[ivfPqReindexDecision]] evaluates a re-encoded
    * "tomorrow" corpus (the abs-collapse encoder-shift stand-in,
    * same ids, same count — the count arm provably silent), its drift
    * arm fires, and the action is [[graft.sources.IndexStore.rebuild]]
    * — a NEW MODEL GENERATION published as one atomic commit while the
    * old generation keeps serving pinned readers. Pins the pieces the
    * other gates don't compose: `gen_advanced` (v2 = version 2, model
    * gen 2, op "rebuild"), `old_reader_ok` (a reader pinned at v1
    * AFTER the rebuild reproduces its publish-time content AND its
    * gen-1 models byte-for-byte — parquet double round trip is exact),
    * and `recall_ok`/`full_k` (the new generation serves the
    * re-encoded corpus: probe from the v2 files + v2 models vs exact
    * brute force on the shifted vectors ≥ `recallFloor`). Counts and
    * the trigger's count-arm are SQL-exact; flags pinned. */
  def manifestRebuildGate(s: SparkSession, dir: String, root: String,
                          k: Int = 5,
                          recallFloor: Double = 0.6,
                          benchSized: Boolean = false): DataFrame = {
    import s.implicits._
    import graft.sources.{IndexStore, Tables}
    val emb = Tables.embeddings(s, dir)
    // one scan for corpus count + probe-query count — guide §1.2
    val Seq(n, nq) = Audit.counts(emb, col("vec_id") < 10)
    def row(f: (Int, Int, Int, Int, Int)) =
      Seq((n, n, f._1, f._2, f._3, f._4, f._5))
        .toDF("n_base", "n_now", "count_rebuild", "drift_rebuild",
          "gen_advanced", "old_reader_ok", "recall_ok")
    if (n == 0L) return row((0, 1, 1, 1, 1))
    // benchSized (the GATED invocation): BOTH generations provision at
    // ~√N/2 cells instead of the ~4√N policy — the ivfPqCompactGate
    // precedent: every hashed column is cell-count-independent (counts;
    // the trigger arms — drift is a property of the encoder shift, not
    // the cell geometry; generation bookkeeping; byte-level old-reader
    // isolation; and the recall re-gate runs against brute force at
    // whatever geometry is deployed), while the episode pays two full
    // train+encode+write passes that scale with cells. The corpus-
    // count-policy episode is priced in ScaleStress's manifest_rebuild
    // row.
    val cellsOverride =
      if (benchSized) Some(benchSizedCells(n)) else None
    val shifted = Checkpoints.scratch(emb.select(col("vec_id"),
      transform(col("embedding"), x => abs(x)).as("embedding")))
    val v1 = IndexStore.build(s, root, emb, cellsOverride)
    if (v1.cents.isEmpty) return row((0, 1, 1, 1, 1))
    val fp1 = Audit.fingerprint(IndexStore.codes(s, root, v1), CodeCols)
    // the morning decision: tomorrow's corpus through yesterday's lens
    val (countR, driftR, rebuild, _) = ivfPqReindexDecision(emb, shifted)
    val v2 =
      if (rebuild == 1) IndexStore.rebuild(s, root, shifted, cellsOverride)
      else IndexStore.open(s, root)
    val genAdvanced =
      if (rebuild == 1 && v2.version == 2L && v2.modelGen == 2L &&
          v2.op == "rebuild") 1 else 0
    // the pinned old reader, AFTER the generation swap
    val r1 = IndexStore.openVersion(s, root, 1L)
    val oldReaderOk =
      if (Audit.fingerprint(IndexStore.codes(s, root, r1), CodeCols) == fp1 &&
          r1.cents.map(_.toSeq).toSeq == v1.cents.map(_.toSeq).toSeq &&
          r1.cb.map(_.map(_.toSeq).toSeq).toSeq ==
            v1.cb.map(_.map(_.toSeq).toSeq).toSeq) 1 else 0
    // the new generation serves the re-encoded corpus
    val queries = shifted.filter(col("vec_id") < 10)
    val rr = scaledRerank(n)
    val np = scaledNprobe(n, v2.cells, rr)
    // no scratch: the one-pass audit below is the probe's only consumer
    val ann = knnIvfPqWith(shifted, IndexStore.codes(s, root, v2),
        v2.cents, v2.cb, queries, k, np, rr, residual = false)
      .select("query_id", "nn_id")
    val bf = knnBruteForce(shifted, queries, k).select("query_id", "nn_id")
    val kEff = Audit.kEff(k, n)
    // one left-join aggregate decides full-k AND recall (bf pairs are
    // unique per (query, nn), so multiplicity is safe) — guide §1.2
    val annAudit = Audit.hits(ann, bf, Seq("query_id", "nn_id")).head()
    val fullK = annAudit.getLong(0) == nq * kEff
    val recallOk =
      if (fullK || nq * kEff == 0L)
        Audit.recallOk(annAudit.getLong(1), nq * kEff, recallFloor)
      else 0
    row((countR, driftR, genAdvanced, oldReaderOk, recallOk))
  }

  // ---- filtered ANN: predicate-constrained k-NN probes ----

  /** Predicate-constrained IVFADC probe — the retrieval shape RAG
    * deployments hit constantly ("nearest neighbors WHERE lang = 'de'
    * / date in range"). The filter lands IN the index scan, not after
    * the re-rank: the allowed-id set semi-joins the stored code rows
    * BEFORE the ADC join, so a probe touches only the filtered rows
    * of its nprobe cells and the shortlist is spent entirely on
    * candidates that can be returned (post-filtering an unfiltered
    * top-k would starve selective predicates — a 1% filter leaves
    * ~k/100 usable results). At scale the allowed set is itself a
    * predicate pushed to the metadata table; the semi-join is a
    * broadcast for bounded filters, a keyed shuffle for corpus-scale
    * ones — never a scan of unfiltered codes downstream.
    *
    * Probe parameters derive from the FILTER'S CELL PROFILE, not just
    * its global count: the filtered index aggregates to per-cell
    * filtered counts (≤ cells rows, driver-bounded — the same scan
    * that sizes the probe), and nprobe widens from the ROBUST per-cell
    * mass ρ·median (ρ = occupied fraction, median over occupied
    * cells) instead of the mean nF/cells. Under a skewed filter
    * (all-German vectors concentrated in few cells) the mean
    * over-states what a proximity-ordered probe will actually find —
    * most probed cells hold NOTHING of the filter — while ρ·median
    * prices exactly that: few occupied cells → small ρ → wide probe.
    * Widening is nearly free here BECAUSE the semi-join already ran:
    * probing a cell with zero filtered rows contributes zero ADC rows
    * — the candidate volume stays bounded by the filtered set
    * regardless of nprobe. The allowed-ID SET scratch-materializes
    * ONCE (its derivation — at scale a predicate over the metadata
    * table — never re-runs), while the semi-join itself stays IN the
    * probe plan: PlanSpec pins it structurally below the cell-keyed
    * ADC join, and both the profile aggregate and the probe evaluate
    * it over the registry-cached index and the materialized id set.
    *
    * Result rows are a subset of the allowed set by construction (the
    * re-rank fetches only shortlisted — already filtered — ids);
    * [[knnIvfPqFilteredGate]] measures the recall lever. */
  def knnIvfPqFiltered(emb: DataFrame, allowed: DataFrame,
                       queries: DataFrame, k: Int,
                       residual: Boolean = false): DataFrame = {
    val nAll = emb.count()
    val cells = scaledCells(nAll)
    val (cents, cb, index) = ivfPqIndex(emb, cells, residual = residual)
    if (cents.isEmpty || cb.isEmpty) {
      val s = emb.sparkSession
      import s.implicits._
      return Seq.empty[(Long, Long, Int)].toDF("query_id", "nn_id", "rn")
    }
    val allowedIds = Checkpoints.scratch(
      allowed.select(col("vec_id").as("nn_id")))
    val fIndex = index.join(allowedIds, Seq("nn_id"), "left_semi")
    // the filter's cell profile: one ≤cells-row aggregate
    val profile = fIndex.groupBy("cell").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(1)).sorted
    val nF = profile.sum
    val rr = scaledRerank(nF)
    val np = filteredNprobe(profile, cells, rr)
    knnIvfPqWith(emb, fIndex, cents, cb, queries, k, np, rr, residual)
  }

  /** Skew-robust probe width from a filter's per-cell count profile
    * (ascending counts of OCCUPIED cells): expected usable mass per
    * probed cell is ρ·median — occupancy fraction times the robust
    * per-occupied-cell mass — so nprobe = ⌈12·rerank / (ρ·median)⌉
    * clamped to [8, cells]. Collapses to [[scaledNprobe]]'s
    * mean-mass rule for a uniform filter; widens under concentration
    * (few occupied cells, or a long thin tail). */
  private[operators] def filteredNprobe(profile: Array[Long],
                                        cells: Int, rerank: Int): Int = {
    if (profile.isEmpty) return math.min(8, cells)
    val median = profile(profile.length / 2).toDouble
    val rho = profile.length.toDouble / cells
    math.min(cells, math.max(8,
      math.ceil(12.0 * rerank / math.max(rho * median, 1e-9)).toInt))
  }

  /** Hash-checked gate for [[knnIvfPqFiltered]] (filter: docs with
    * `lang = 'de'`): every result id inside the filter (`subset_ok`),
    * every query delivered min(k, n_allowed−1) rows (`full_k` — the
    * conservative bound covers queries inside and outside the allowed
    * set), and recall vs BRUTE FORCE OVER THE FILTERED SUBSET ≥
    * `recallFloor` — the correct baseline: filtered ANN competes
    * against an exact scan of the allowed rows, not of the corpus.
    * Counts (corpus, filter, query sizes) are SQL-exact. */
  def knnIvfPqFilteredGate(s: SparkSession, dir: String, k: Int = 5,
                           lang: String = "de",
                           recallFloor: Double = 0.6): DataFrame = {
    import s.implicits._
    import graft.sources.Tables
    val emb = Tables.embeddings(s, dir)
    // the filter id-set derives ONCE (scratch-materialized): the probe,
    // the subset audit and the filtered brute-force baseline all read
    // the same materialized set — no repeated documents-table scans
    val allowed = Checkpoints.scratch(Tables.documents(s, dir)
      .filter(col("lang") === lang)
      .select(col("doc_id").as("vec_id"))
      .join(emb.select("vec_id"), Seq("vec_id"), "left_semi"))
    val queries = emb.filter(col("vec_id") < 10)
    // one scan for corpus + probe-query counts — guide §1.2
    val Seq(nEmb, nq) = Audit.counts(emb, col("vec_id") < 10)
    val nAllowed = allowed.count()
    val ann = knnIvfPqFiltered(emb, allowed, queries, k)
      .select("query_id", "nn_id")
    val fEmb = emb.join(allowed, Seq("vec_id"), "left_semi")
    val bf = knnBruteForce(fEmb, queries, k).select("query_id", "nn_id")
    // ONE full-join aggregate decides all four audit scalars — probe
    // row count, recall hits, baseline size and in-filter membership —
    // where the r19 form scratched the probe then ran four separate
    // actions (2 counts + 2 semi-join counts). Multiplicity exact:
    // ann and bf are unique per (query_id, nn_id) (the knnBruteForce /
    // probe ranking contract) and `allowed` per vec_id, so the left
    // join keeps ann unique and the full join holds matched + ann-only
    // + bf-only rows exactly once each
    val audit = Audit.overlap(
        ann.join(allowed.select(col("vec_id").as("nn_id"))
          .withColumn("__in", lit(1L)), Seq("nn_id"), "left"),
        bf, Seq("query_id", "nn_id"),
        coalesce(sum("__in"), lit(0L))).head()
    val nAnn = audit.getLong(0)
    val inFilter = audit.getLong(3)
    val subsetOk = if (nAnn == inFilter) 1 else 0
    // a query inside the filter can match n_allowed−1 others, one
    // outside can match n_allowed — the conservative bound holds both
    val kEff = Audit.kEff(k, nAllowed)
    val fullK = if (nAnn >= nq * kEff && nAnn <= nq * k) 1 else 0
    val recallOk =
      Audit.recallOk(audit.getLong(1), audit.getLong(2), recallFloor)
    Seq((nEmb, nAllowed, nq, subsetOk, fullK, recallOk))
      .toDF("n_emb", "n_allowed", "n_queries", "subset_ok", "full_k",
        "recall_ok")
  }

  /** The DISTINCT cell set a probe of `queries` at width `nprobe`
    * will touch — [[probeCells]], the probe plan's own expression, so
    * no driver re-derivation's tie-breaking can diverge: the manifest
    * reader's pruning input ([[graft.sources.IndexStore.codesForCells]]
    * opens exactly these cells' files). Driver-bounded: ≤ nq·nprobe
    * ids. */
  def probeCellSet(cents: Array[Array[Double]], queries: DataFrame,
                   nprobe: Int): Set[Int] =
    queries
      .select(probeCells(toDoubleVec(col("embedding")), cents, nprobe)
        .as("probe"))
      .select(col("probe.cell")).distinct()
      .collect().map(_.getInt(0)).toSet

  /** Serve a probe from an EXTERNALLY-HELD index snapshot (the
    * manifest reader's entry point: [[graft.sources.IndexStore]]
    * hands over its file-backed code rows + round-tripped models) —
    * the public form of the internal ADC probe, under caller-chosen
    * policies. `emb` is the raw-vector table the exact re-rank reads;
    * at 100 TB that read is a keyed join against the shortlist, never
    * a corpus scan. */
  def knnIvfPqServe(emb: DataFrame, index: DataFrame,
                    cents: Array[Array[Double]],
                    cb: Array[Array[Array[Double]]],
                    queries: DataFrame, k: Int, nprobe: Int,
                    rerank: Int): DataFrame =
    knnIvfPqWith(emb, index, cents, cb, queries, k, nprobe, rerank,
      residual = false)

  // ---- the serving manifest: snapshot versioning for the store ----

  /** SERVING-MANIFEST gate — the atomic "which snapshot is live"
    * contract ([[graft.sources.IndexStore]]) driven through every
    * mutation path on ONE store, composed as one gated query. The r14
    * store had four mutation paths and no consistency contract between
    * them; this gate pins the contract a deployment actually relies
    * on:
    *
    *   1. BUILD on the 7/8-prefix corpus publishes v1; its content
    *      fingerprint is captured at publish time.
    *   2. APPEND of the remaining 1/8 publishes v2 — `append_shared`
    *      pins that v2 inherits EVERY v1 file by reference (zero data
    *      rewrite), `append_conserved` that v2 holds exactly the full
    *      corpus.
    *   3. COMPACT publishes v3 — `compact_ok` pins content identity
    *      (order-independent checksum), ≤ one file per occupied cell,
    *      and a fully swapped file list (no v2 file referenced).
    *   4. FORGET of the `vec_id % 97 == 0` erasure set publishes v4 —
    *      `forget_ok` pins zero doomed ids + exact survivor
    *      conservation; `forget_bounded` pins the REWRITE FOOTPRINT:
    *      files of cells holding no doomed row survive into v4 by
    *      identity (path-equal), only doomed cells' files are
    *      replaced.
    *   5. ISOLATION: a reader pinned at v1 AFTER all four commits
    *      reproduces v1's publish-time fingerprint exactly — the
    *      snapshot-isolation property the bare directory store could
    *      not state.
    *   6. PROBE: a query served from the LIVE store (manifest files +
    *      parquet-round-tripped models) equals the probe of the
    *      equivalent in-memory index (build ∪ append, anti-join
    *      forgotten) — decided by its sufficient inputs (bit-equal
    *      round-tripped models + fingerprint-equal code rows; the ADC
    *      plan is deterministic per the ivfpq gates), with the
    *      data-skipping arm (7a below) still a MEASURED probe pair.
    *   7. VACUUM(retain=1) then re-list: the surviving data files are
    *      EXACTLY v4's manifest (garbage from superseded snapshots
    *      physically gone), and the live fingerprint is unchanged.
    *
    * Counts (corpus, prefix split, erasure set) and `live_version = 4`
    * are SQL-exact; the seven flags are pinned 1.
    *
    * `benchSized = true` (the GATED invocation) builds the store at
    * ~√N_base/2 cells instead of the ~4√N policy — the
    * [[ivfPqCompactGate]]/[[autoCompactGate]] precedent: every hashed
    * column is cell-count-independent (the in-memory comparison index
    * is built at the SAME cells, so probe equality, isolation,
    * vacuum, and the file-set identities all hold per-cell-exactly),
    * while episode wall-clock is per-cell file metadata across FOUR
    * mutations plus cells-linear train/encode — the heaviest bench
    * row by 1.5× before this arm existed. The corpus-count-policy
    * episode stays in `tools/ScaleStress.scala`'s `index_manifest`
    * row, where slope is the point. */
  def indexManifestGate(s: SparkSession, dir: String, root: String,
                        k: Int = 5, benchSized: Boolean = false): DataFrame = {
    import s.implicits._
    import graft.sources.{IndexStore, Tables}
    val emb = Tables.embeddings(s, dir)
    // one scan for both prelude scalars — guide §1.2, fewer passes
    val Seq(nNow, nDoomed) = Audit.counts(emb, col("vec_id") % 97 === 0)
    val nBase = nNow - nNow / 8
    val nInc = nNow / 8
    val doomed = emb.filter(col("vec_id") % 97 === 0).select("vec_id")
    def row(liveV: Long, f: Seq[Int]) =
      Seq((nNow, nBase, nInc, nDoomed, liveV, f(0), f(1), f(2), f(3),
        f(4), f(5), f(6), f(7)))
        .toDF("n_emb", "n_base", "n_inc", "n_doomed", "live_version",
          "ops_ok", "append_shared", "append_conserved", "compact_ok",
          "forget_ok", "forget_bounded", "probe_ok", "pruned_probe_ok")
    val thr = prefixThreshold(emb, nBase)
    val base = emb.filter(col("vec_id") <= thr)
    val inc = emb.filter(col("vec_id") > thr)
    val cells =
      if (benchSized)
        benchSizedCells(nBase)
      else scaledCells(nBase)
    val v1 = IndexStore.build(s, root, base, Some(cells))
    // degenerate-model corpora (too small to train): the mutations
    // below would conserve nothing real — vacuous flags, the
    // ivfPqStoreGate convention
    if (v1.cents.isEmpty && nNow > 0) return row(4L, Seq.fill(8)(1))
    def snapFp(v: IndexStore.Snapshot) =
      Audit.fingerprint(IndexStore.codes(s, root, v), CodeCols)
    val fp1 = snapFp(v1)
    val v2 = IndexStore.append(s, root, inc)
    val fp2 = snapFp(v2)
    val appendShared =
      if (v1.files.toSet.subsetOf(v2.files.toSet)) 1 else 0
    val appendConserved =
      if (fp2._1 == nNow && v2.nRows == nNow) 1 else 0
    val v3 = IndexStore.compact(s, root)
    // scratch each audited snapshot ONCE: three audits on a lazy read
    // would re-open every snapshot file per action
    val c3 = Checkpoints.scratch(IndexStore.codes(s, root, v3))
    // ONE pass over c3 for all four v3 audits: content fingerprint,
    // occupied-cell count, and the doomed CELL footprint (what forget
    // may rewrite) — the erasure set is tiny and broadcasts, and the
    // left join preserves multiplicity (vec_ids are unique), so the
    // count/hash agree exactly with the plain fingerprint; four
    // separate actions here were four jobs over the same rows
    val a3 = Audit.fingerprintRow(
      c3.join(doomed.select(col("vec_id").as("nn_id"))
          .withColumn("__doomed", lit(1)), Seq("nn_id"), "left"),
      CodeCols, countDistinct(col("cell")),
      collect_set(when(col("__doomed") === 1, col("cell"))))
    val fp3 = Audit.unpack(a3)
    val occupied = a3.getLong(2)
    val compactOk =
      if (fp3 == fp2 && v3.files.size <= occupied &&
          v3.files.toSet.intersect(v2.files.toSet).isEmpty) 1 else 0
    val doomedCells = a3.getSeq[Int](3).toSet
    val expectKept = v3.files.zip(v3.fileCells)
      .collect { case (p, c) if !doomedCells(c) => p }.toSet
    val v4 = IndexStore.forget(s, root, doomed)
    val c4 = Checkpoints.scratch(IndexStore.codes(s, root, v4))
    // ONE pass over c4: fingerprint + doomed-id residue (every nn_id
    // in the store came from `emb`, so `% 97 == 0` IS membership in
    // the erasure set — no join needed)
    val a4 = Audit.fingerprintRow(c4, CodeCols,
      coalesce(sum((col("nn_id") % 97 === 0).cast("long")), lit(0L)))
    val fp4 = Audit.unpack(a4)
    val doomedLeft = a4.getLong(2)
    val forgetOk =
      if (doomedLeft == 0L && fp4._1 == nNow - nDoomed &&
          v4.nRows == nNow - nDoomed) 1 else 0
    val forgetBounded =
      if (v4.files.toSet.intersect(v3.files.toSet) == expectKept) 1 else 0
    // snapshot isolation: the pinned v1 reader, after four commits
    val isoOk =
      if (snapFp(IndexStore.openVersion(s, root, 1L)) == fp1) 1 else 0
    // probe from the LIVE store (manifest files + round-tripped
    // models) vs the equivalent in-memory index
    val live = IndexStore.open(s, root)
    val queries = emb.filter(col("vec_id") < 10)
    val nLive = nNow - nDoomed
    val rr = scaledRerank(nLive)
    val np = scaledNprobe(nLive, live.cells, rr)
    val (cents0, cb0, idx0) =
      // SAME cells as the store build (bench-sized arm included) —
      // the comparison is only meaningful at matching cell geometry
      ivfPqIndex(base, cells)
    val memIdx =
      idx0.unionAll(ivfPqAppend(cents0, cb0, inc))
        .join(doomed.select(col("vec_id").as("nn_id")), Seq("nn_id"),
          "left_anti")
    def probe(idx: DataFrame) = knnIvfPqWith(emb, idx, live.cents,
      live.cb, queries, k, np, rr, residual = false)
    val (probeEq, prunedOk) =
      if (live.cents.isEmpty) (1, 1)
      else {
        // store-vs-in-memory probe equality, decided by its two
        // sufficient inputs instead of a third full probe plan: the
        // ADC probe is a deterministic function of (models, code
        // rows, queries, policies) — the determinism `ivfpq_append_
        // gate`/`ivfpq_store_gate` pin — so bit-equal round-tripped
        // models plus fingerprint-equal code rows imply row-equal
        // probes. The r15 form executed the in-memory probe as a
        // third ADC plan (+ count + semi-join) to re-measure what
        // these two checks already determine.
        val modelsEq =
          live.cents.map(_.toSeq).toSeq == cents0.map(_.toSeq).toSeq &&
          live.cb.map(_.map(_.toSeq).toSeq).toSeq ==
            cb0.map(_.map(_.toSeq).toSeq).toSeq
        // the manifest's data-skipping contract end-to-end stays a
        // MEASURED probe pair: a probe served from ONLY its probed
        // cells' files (per-file cell from the manifest — no
        // directory listing, no full-snapshot read) row-equals the
        // full-snapshot probe, and opened strictly fewer files
        // whenever the probe touches fewer cells than the snapshot
        // occupies. live == v4 here: probe the materialized snapshot.
        // The three audit reads (batch-form fingerprint, snapshot
        // probe, pruned probe) are independent — overlap them (§2.6)
        val wanted = probeCellSet(live.cents, queries, np)
        val picked = live.fileCells.count(wanted)
        val (memFp, (fS, fP)) = Audit.parallel(
          Audit.fingerprint(memIdx, CodeCols),
          Audit.parallel(Audit.probeFingerprint(probe(c4)),
            Audit.probeFingerprint(probe(
              IndexStore.codesForCells(s, root, live, wanted)))))
        val memEq = memFp == fp4
        val occupiedCells = live.fileCells.distinct.size
        val fewer =
          if (wanted.size < occupiedCells) picked < live.files.size
          else picked <= live.files.size
        ((if (modelsEq && memEq) 1 else 0),
          (if (fP == fS && fewer) 1 else 0))
      }
    // vacuum to the live snapshot: disk == v4's manifest, live intact
    IndexStore.vacuum(s, root, retainLast = 1, minAgeMs = 0L)
    val diskFiles = {
      val p = new org.apache.hadoop.fs.Path(s"$root/data")
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!f.exists(p)) Set.empty[String]
      else {
        val it = f.listFiles(p, true)
        val out = Set.newBuilder[String]
        val rootQ = f.makeQualified(
          new org.apache.hadoop.fs.Path(root)).toString
        while (it.hasNext) {
          val pf = it.next().getPath
          if (pf.getName.startsWith("part-"))
            out += pf.toString.stripPrefix(rootQ).stripPrefix("/")
        }
        out.result()
      }
    }
    val vacuumOk =
      if (diskFiles == v4.files.toSet &&
          snapFp(IndexStore.open(s, root)) == fp4)
        1 else 0
    val liveVersion = IndexStore.versions(s, root).last
    val opsOk =
      if ((1L to 4L).map(v =>
            IndexStore.openVersion(s, root, v).op) ==
          Seq("build", "append", "compact", "forget")) 1 else 0
    // probe_ok folds probe equality + isolation + vacuum: the three
    // reader-facing guarantees of one serving contract
    val probeOk = if (probeEq == 1 && isoOk == 1 && vacuumOk == 1) 1 else 0
    row(liveVersion, Seq(opsOk, appendShared, appendConserved,
      compactOk, forgetOk, forgetBounded, probeOk, prunedOk))
  }

  /** AUTO-COMPACTION gate — the trigger POLICY on top of the compact
    * verb ([[graft.sources.IndexStore.maybeCompact]]): the small-files
    * pathology `ivfPqCompactGate` demonstrates needed a "when", not
    * just a "how", and the manifest already records per-file cells, so
    * the decision is pure in-memory arithmetic over the live snapshot
    * (files per occupied cell ≥ threshold), no file IO beyond the log.
    *
    * Episode: build the 7/8-prefix corpus (v1), partition-append the
    * 1/8 increment as two slices (v2, v3 — each append adds files to
    * its touched cells). Then both policy arms, deterministically:
    *
    *  - `noop_ok`: maybeCompact at an unreachable threshold must NOT
    *    fire — no commit, live version still 3 (a fired no-op would
    *    burn a version and a full rewrite per policy evaluation);
    *  - `fired`: maybeCompact at threshold 1.0 MUST fire — every
    *    non-empty store has ≥ 1 file per occupied cell (equality is
    *    the perfectly-compacted fixpoint), so the arm is provable at
    *    any SF without depending on which cells the slices hit;
    *  - `shape_ok`: the compacted snapshot holds ≤ one file per
    *    occupied cell; `content_ok`: order-independent checksum
    *    unchanged; `probe_ok`: a probe served from the compacted
    *    store equals the pre-compact probe row-for-row.
    *
    * Counts and `versions_committed = 4` (build + 2 appends + the one
    * fired compact) are SQL-exact; the five flags pinned 1.
    *
    * `benchSized = true` (the GATED invocation) builds the store at
    * ~√N_base/2 cells instead of the ~4√N policy — the
    * [[ivfPqCompactGate]] precedent: every hashed column is
    * cell-count-independent (both policy arms, the compacted shape,
    * content checksum, probe equality), while the episode wall-clock
    * is per-cell file metadata (build + 2 appends + the compact each
    * write ~occupied-cells files) and cells-linear encode/probe math.
    * The FULL corpus-count-policy episode stays in
    * `tools/ScaleStress.scala`'s `auto_compact` row. */
  def autoCompactGate(s: SparkSession, dir: String, root: String,
                      k: Int = 5, benchSized: Boolean = false): DataFrame = {
    import s.implicits._
    import graft.sources.{IndexStore, Tables}
    val emb = Tables.embeddings(s, dir)
    val n = emb.count()
    val nBase = n - n / 8
    val nInc = n / 8
    def row(f: (Int, Int, Int, Int, Int)) =
      Seq((n, nBase, nInc, 4L, f._1, f._2, f._3, f._4, f._5))
        .toDF("n_emb", "n_base", "n_inc", "versions_committed",
          "noop_ok", "fired", "shape_ok", "content_ok", "probe_ok")
    if (n == 0L) return row((1, 1, 1, 1, 1))
    val thr = prefixThreshold(emb, nBase)
    val base = emb.filter(col("vec_id") <= thr)
    val inc = emb.filter(col("vec_id") > thr)
    val cells =
      if (benchSized)
        benchSizedCells(nBase)
      else scaledCells(nBase)
    val v1 = IndexStore.build(s, root, base, Some(cells))
    if (v1.cents.isEmpty) return row((1, 1, 1, 1, 1))
    // two ingest slices (order statistics of the increment, the
    // streamedAppendStore convention — never an isin list)
    val mid = prefixThreshold(inc, nInc / 2)
    IndexStore.append(s, root, inc.filter(col("vec_id") <= mid))
    val v3 = IndexStore.append(s, root, inc.filter(col("vec_id") > mid))
    val c3 = Checkpoints.scratch(IndexStore.codes(s, root, v3))
    val (noop, fired1) = IndexStore.maybeCompact(s, root,
      filesPerCell = 1e9)
    val noopOk =
      if (!fired1 && noop.version == v3.version &&
          IndexStore.versions(s, root).last == v3.version) 1 else 0
    val (v4, fired2) = IndexStore.maybeCompact(s, root, filesPerCell = 1.0)
    val fired = if (fired2 && v4.version == v3.version + 1 &&
      v4.op == "compact") 1 else 0
    val c4 = Checkpoints.scratch(IndexStore.codes(s, root, v4))
    val occupied = v4.fileCells.distinct.size
    val shapeOk = if (v4.files.size <= occupied) 1 else 0
    val queries = emb.filter(col("vec_id") < 10)
    val rr = scaledRerank(n)
    val np = scaledNprobe(n, v4.cells, rr)
    def probe(idx: DataFrame) = knnIvfPqWith(emb, idx, v4.cents, v4.cb,
      queries, k, np, rr, residual = false)
    // all four audit reads are independent over the two pinned
    // (scratched) snapshots — overlap them (guide §2.6); c3's
    // fingerprint reads rows materialized BEFORE the compact, so
    // ordering is immaterial
    val ((fp3, fp4), (fpP3, fpP4)) = Audit.parallel(
      Audit.parallel(Audit.fingerprint(c3, CodeCols),
        Audit.fingerprint(c4, CodeCols)),
      Audit.parallel(Audit.probeFingerprint(probe(c3)),
        Audit.probeFingerprint(probe(c4))))
    val contentOk = if (fp4 == fp3) 1 else 0
    val probeOk = if (fpP3 == fpP4) 1 else 0
    row((noopOk, fired, shapeOk, contentOk, probeOk))
  }
}
