package graft.catalog

import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbour search over the embeddings: LSH, IVF, PQ
  * and IVFADC probes, bitext mining, and the index-maintenance gates. */
object AnnQueries {

  val queries: Seq[Query] = Seq(
    // --- similarity search ---
    Query("knn_bruteforce", ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.knnBruteForce(emb, emb.filter(col("vec_id") < 10), 5)
    }), Oracle(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS vq FROM e WHERE vec_id < 10),
        |sims AS (
        |  SELECT query_id, e.vec_id AS nn_id,
        |    round(
        |      list_sum(list_transform(list_zip(vq, e.v), x -> x[1]*x[2])) /
        |      (sqrt(list_sum(list_transform(vq, x -> x*x))) *
        |       sqrt(list_sum(list_transform(e.v, x -> x*x)))), 6) AS sim
        |  FROM q JOIN e ON query_id <> e.vec_id)
        |SELECT query_id, nn_id, sim, rn FROM (
        |  SELECT query_id, nn_id, sim,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, nn_id) AS rn
        |  FROM sims) t
        |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin)),
    Query("knn_lsh", ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.knnLsh(emb, emb.filter(col("vec_id") < 10), 5)
    }), GateTwin("knn_recall_gates")),
    // multi-probe LSH (Lv et al. 2007): Hamming-1 bucket perturbation
    // on the QUERY side only — recall tuning over the unchanged index
    Query("knn_lsh_mp", ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.knnLsh(emb, emb.filter(col("vec_id") < 10), 5,
        multiProbe = true)
    }), GateTwin("knn_recall_gates")),
    Query("knn_ivf", ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.knnIvf(emb, emb.filter(col("vec_id") < 10), 5)
    }), GateTwin("knn_recall_gates")),
    // driver-checkable shape + recall-floor invariants for both ANN tiers
    Query("knn_recall_gates", ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.knnRecallGates(emb, emb.filter(col("vec_id") < 10), 5)
    }), Oracle(
      // the ANN gates re-state shape + recall-floor invariants as constants
      // (see Similarity.knnRecallGates): 10 queries × k=5, every query gets
      // its full k, and recall@5 vs the exact tier clears the floor
      """SELECT 'ivf' AS method, CAST(50 AS BIGINT) AS n_results,
        |  CAST(10 AS BIGINT) AS n_queries, 1 AS full_k, 1 AS recall_ok
        |UNION ALL
        |SELECT 'ivfpq', 50, 10, 1, 1
        |UNION ALL
        |SELECT 'ivfpq_res', 50, 10, 1, 1
        |UNION ALL
        |SELECT 'lsh', 50, 10, 1, 1
        |UNION ALL
        |SELECT 'lsh_mp', 50, 10, 1, 1
        |UNION ALL
        |SELECT 'pq', 50, 10, 1, 1
        |ORDER BY method""".stripMargin)),
    Query("knn_pq", ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.knnPq(emb, emb.filter(col("vec_id") < 10), 5)
    }), GateTwin("knn_recall_gates")),
    // margin-based bitext mining (LASER/CCMatrix): each en doc's
    // best-margin de counterpart, ratio margin in exact integer micros
    Query("bitext_mining", ((s, dir) => Similarity.mineBitext(s, dir)), Oracle(
      // exact recompute of the ratio-margin miner: all-pairs en×de
      // cosine, top-4 neighborhood sums in integer micros, floor-division
      // margin, best per source doc above the 1.0 floor
      """WITH d AS (SELECT doc_id, lang FROM documents),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings),
        |a AS (SELECT vec_id AS src_id, v AS va FROM e
        |      JOIN d ON vec_id = doc_id AND lang = 'en'),
        |b AS (SELECT vec_id AS tgt_id, v AS vb FROM e
        |      JOIN d ON vec_id = doc_id AND lang = 'de'),
        |p AS (
        |  SELECT src_id, tgt_id,
        |    round(
        |      list_sum(list_transform(list_zip(va, vb), x -> x[1]*x[2])) /
        |      (sqrt(list_sum(list_transform(va, x -> x*x))) *
        |       sqrt(list_sum(list_transform(vb, x -> x*x)))), 6) AS cos
        |  FROM a CROSS JOIN b),
        |pm AS (SELECT src_id, tgt_id, cos,
        |         CAST(round(cos * 1e6) AS BIGINT) AS cm FROM p),
        |r AS (SELECT src_id, tgt_id, cos, cm,
        |        row_number() OVER (PARTITION BY src_id
        |          ORDER BY cos DESC, tgt_id) AS ra,
        |        row_number() OVER (PARTITION BY tgt_id
        |          ORDER BY cos DESC, src_id) AS rb
        |      FROM pm),
        |sa AS (SELECT src_id, CAST(sum(cm) AS BIGINT) AS sa FROM r
        |       WHERE ra <= 4 GROUP BY 1),
        |sb AS (SELECT tgt_id, CAST(sum(cm) AS BIGINT) AS sb FROM r
        |       WHERE rb <= 4 GROUP BY 1),
        |m AS (
        |  SELECT r.src_id, r.tgt_id, r.cos,
        |    (r.cm * 8 * 1000000) // (sa.sa + sb.sb) AS margin_micros
        |  FROM r JOIN sa ON r.src_id = sa.src_id
        |         JOIN sb ON r.tgt_id = sb.tgt_id
        |  WHERE sa.sa + sb.sb > 0)
        |SELECT src_id, tgt_id, cos, margin_micros FROM (
        |  SELECT src_id, tgt_id, cos, margin_micros,
        |    row_number() OVER (PARTITION BY src_id
        |      ORDER BY margin_micros DESC, tgt_id) AS rn
        |  FROM m) x
        |WHERE rn = 1 AND margin_micros >= 1000000
        |ORDER BY src_id""".stripMargin)),
    // the PRODUCTION miner: same margin scoring over 2 knnIvfPq probes
    // per doc — k·(|en|+|de|) candidates, never the all-pairs product
    // (rows-only; bitext_ann_gate is the hash-green companion)
    Query("bitext_mining_ann", ((s, dir) => Similarity.mineBitextAnn(s, dir)),
      GateTwin("bitext_ann_gate")),
    // pair recall of the ANN miner vs the exact tier ≥ 0.8 (measured
    // 0.939/0.961/0.949 at sf0.001/0.01/0.1), plus
    // the one-pair-per-source bound; side sizes + exact pair count
    // SQL-recomputed
    Query("bitext_ann_gate", ((s, dir) => Similarity.bitextAnnGate(s, dir)), Oracle(
      // ANN-miner gate: side sizes + the exact tier's pair count
      // recomputed (the same all-pairs margin pipeline as bitext_mining,
      // wrapped in counts); recall/bound invariants pinned as flags
      """WITH d AS (SELECT doc_id, lang FROM documents),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings),
        |a AS (SELECT vec_id AS src_id, v AS va FROM e
        |      JOIN d ON vec_id = doc_id AND lang = 'en'),
        |b AS (SELECT vec_id AS tgt_id, v AS vb FROM e
        |      JOIN d ON vec_id = doc_id AND lang = 'de'),
        |p AS (
        |  SELECT src_id, tgt_id,
        |    round(
        |      list_sum(list_transform(list_zip(va, vb), x -> x[1]*x[2])) /
        |      (sqrt(list_sum(list_transform(va, x -> x*x))) *
        |       sqrt(list_sum(list_transform(vb, x -> x*x)))), 6) AS cos
        |  FROM a CROSS JOIN b),
        |pm AS (SELECT src_id, tgt_id, cos,
        |         CAST(round(cos * 1e6) AS BIGINT) AS cm FROM p),
        |r AS (SELECT src_id, tgt_id, cos, cm,
        |        row_number() OVER (PARTITION BY src_id
        |          ORDER BY cos DESC, tgt_id) AS ra,
        |        row_number() OVER (PARTITION BY tgt_id
        |          ORDER BY cos DESC, src_id) AS rb
        |      FROM pm),
        |sa AS (SELECT src_id, CAST(sum(cm) AS BIGINT) AS sa FROM r
        |       WHERE ra <= 4 GROUP BY 1),
        |sb AS (SELECT tgt_id, CAST(sum(cm) AS BIGINT) AS sb FROM r
        |       WHERE rb <= 4 GROUP BY 1),
        |m AS (
        |  SELECT r.src_id, r.tgt_id,
        |    (r.cm * 8 * 1000000) // (sa.sa + sb.sb) AS margin_micros
        |  FROM r JOIN sa ON r.src_id = sa.src_id
        |         JOIN sb ON r.tgt_id = sb.tgt_id
        |  WHERE sa.sa + sb.sb > 0),
        |best AS (
        |  SELECT src_id FROM (
        |    SELECT src_id, margin_micros,
        |      row_number() OVER (PARTITION BY src_id
        |        ORDER BY margin_micros DESC, tgt_id) AS rn
        |    FROM m) x
        |  WHERE rn = 1 AND margin_micros >= 1000000)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_src,
        |  (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_tgt,
        |  (SELECT CAST(count(*) AS BIGINT) FROM best) AS n_exact,
        |  1 AS recall_ok, 1 AS bounded_ok""".stripMargin)),
    // the composed IVFADC production tier under the measured scaling
    // policies — ln-scaled rerank + candidate-mass nprobe (rows-only;
    // the recall gate's ivfpq row is the hash-green companion)
    Query("knn_ivfpq", ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.knnIvfPqAuto(emb, emb.filter(col("vec_id") < 10), 5)
    }), GateTwin("knn_recall_gates")),
    // per-iteration PQ codebook contract (kmeans_train_stats pattern)
    Query("pq_train_stats", ((s, dir) =>
      Similarity.pqTrainStats(Tables.embeddings(s, dir))), Oracle(
      // per-iteration PQ contract: every sub-vector assigned (rows × M),
      // cells bounded, L2 error non-increasing (Lloyd monotonicity) —
      // float error stays out of the hash, like kmeans_train_stats
      """SELECT CAST(i AS INTEGER) AS iter,
        |  (SELECT count(*) * 16 FROM embeddings) AS n_assigned,
        |  1 AS cells_ok, 1 AS improved
        |FROM (SELECT unnest(generate_series(0, 2)) AS i) t
        |ORDER BY iter""".stripMargin)),
    // incremental index maintenance: an increment encoded under frozen
    // models reproduces the full build's rows exactly (append-only
    // ingest contract; counts SQL-recomputable, equality flags pinned)
    Query("ivfpq_append_gate", ((s, dir) =>
      Similarity.ivfPqAppendGate(s, dir)), Oracle(
      // append-path determinism gate: exact counts + pinned equality
      """SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_emb,
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings
        |   WHERE vec_id < 50) AS n_inc,
        |  1 AS count_ok, 1 AS rows_ok,
        |  1 AS res_count_ok, 1 AS res_rows_ok""".stripMargin)),
    // rebuild-trigger policy for the partition-appended index: retrain
    // when the count policy wants >= 2x the trained cells; policy
    // arithmetic SQL-recomputable (IEEE sqrt is correctly rounded),
    // append completeness + cell-range safety measured on the real path
    Query("ivfpq_reindex_gate", ((s, dir) =>
      Similarity.ivfPqReindexGate(s, dir)), Oracle(
      // rebuild-trigger policy recompute: the cell-count policy
      // (max(16, min(4096, min(ceil(4*sqrt(n)), n/32)))) is exact in SQL
      // because IEEE sqrt is correctly rounded, *4 and ceil are exact,
      // and the rest is integer min/max; measured append flags pinned 1
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_now
        |           FROM embeddings),
        |p AS (SELECT n_now, GREATEST(1, n_now // 8) AS n_base FROM n),
        |c AS (SELECT n_now, n_base,
        |  CAST(GREATEST(16, LEAST(4096,
        |    LEAST(CAST(ceil(4*sqrt(n_base)) AS BIGINT), n_base // 32)))
        |    AS INTEGER) AS stale_cells,
        |  CAST(GREATEST(16, LEAST(4096,
        |    LEAST(CAST(ceil(4*sqrt(n_now)) AS BIGINT), n_now // 32)))
        |    AS INTEGER) AS fresh_cells
        |  FROM p)
        |SELECT 'stale' AS snapshot, n_base AS n_trained_at, n_now,
        |  stale_cells AS cells, n_now // stale_cells AS occ_mean,
        |  CASE WHEN fresh_cells >= 2*stale_cells THEN 1 ELSE 0 END
        |    AS rebuild,
        |  1 AS append_complete, 1 AS cells_in_range FROM c
        |UNION ALL
        |SELECT 'fresh', n_now, n_now, fresh_cells,
        |  n_now // fresh_cells, 0, 1, 1 FROM c""".stripMargin)),
    // embedding-snapshot drift (the vector-tier token_drift twin),
    // checked through its gate (r17 consolidation: cell identity is
    // the seeded trainer's, not oracle-expressible; the gate computes
    // the SAME occupancy frame and hash-checks conservation +
    // share-sum + cell-range + smoothed-KL>=0 with snapshot sizes
    // SQL-exact)
    Query("embedding_drift_gate", ((s, dir) =>
      Similarity.embeddingDriftGate(s, dir)), Oracle(
      // embedding drift gate: snapshot split counts exact, occupancy
      // conservation / share-sum / cell-range / Gibbs-KL flags pinned 1
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_now
        |           FROM embeddings)
        |SELECT n_now - n_now // 8 AS n_base, n_now,
        |  1 AS base_conserved, 1 AS now_conserved, 1 AS shares_ok,
        |  1 AS cells_ok, 1 AS kl_ok
        |FROM n""".stripMargin)),
    // the drift monitor's CONSUMER: the composed rebuild trigger
    // (count-growth OR occupancy-drift-KL) on two structurally-forced
    // scenarios — steady (KL identically 0, never rebuilds) and
    // encoder_shift (counts unchanged so the count arm provably can't
    // fire; the drift arm must) — counts + cell policy SQL-exact
    Query("ivfpq_reindex_drift_gate", ((s, dir) =>
      Similarity.ivfPqReindexDriftGate(s, dir)), Oracle(
      // drift-consuming rebuild trigger: corpus count + cell policy
      // SQL-exact; steady => all trigger arms 0 (KL identically zero),
      // encoder_shift => count arm 0 exact, drift arm pinned 1
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_emb
        |           FROM embeddings),
        |c AS (SELECT n_emb,
        |  CAST(GREATEST(16, LEAST(4096,
        |    LEAST(CAST(ceil(4*sqrt(n_emb)) AS BIGINT), n_emb // 32)))
        |    AS INTEGER) AS cells FROM n)
        |SELECT 'steady' AS scenario, n_emb AS n_base, n_emb AS n_now,
        |  cells, 0 AS count_rebuild, 0 AS drift_rebuild, 0 AS rebuild
        |FROM c
        |UNION ALL
        |SELECT 'encoder_shift', n_emb, n_emb, cells, 0, 1, 1 FROM c""".stripMargin)),
    // predicate-constrained ANN (the RAG retrieval shape): the filter
    // semi-joins the stored code rows BEFORE the ADC join, probe
    // width re-derived from the filtered count (rows-only; the gate
    // next is the hash-green companion)
    Query("knn_ivfpq_filtered", ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val allowed = Tables.documents(s, dir)
        .filter(col("lang") === "de")
        .select(col("doc_id").as("vec_id"))
        .join(emb.select("vec_id"), Seq("vec_id"), "left_semi")
      Similarity.knnIvfPqFiltered(emb, allowed,
        emb.filter(col("vec_id") < 10), 5)
    }), GateTwin("knn_ivfpq_filtered_gate")),
    // result ⊆ filter, full-k delivery, recall vs brute force OVER
    // THE FILTERED SUBSET ≥ 0.6 — counts SQL-exact, flags pinned
    Query("knn_ivfpq_filtered_gate", ((s, dir) =>
      Similarity.knnIvfPqFilteredGate(s, dir)), Oracle(
      // filtered-probe gate: corpus/filter/query sizes exact (the
      // filter is documents.lang = 'de' carrying an embedding), flags
      // pinned 1
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_emb,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents d
        |   JOIN embeddings e ON d.doc_id = e.vec_id
        |   WHERE d.lang = 'de') AS n_allowed,
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings
        |   WHERE vec_id < 10) AS n_queries,
        |  1 AS subset_ok, 1 AS full_k, 1 AS recall_ok""".stripMargin)),
    Query("embedding_quantize", ((s, dir) =>
      Similarity.normalizeQuantize(Tables.embeddings(s, dir))), Oracle(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, v,
        |  greatest(round(sqrt(list_sum(list_transform(v, x -> x*x))), 6),
        |           1e-9) AS norm FROM e),
        |q AS (SELECT vec_id, norm,
        |  list_transform(v, x -> CAST(least(greatest(
        |    floor(x / norm * 127 + 0.5), -127), 127) AS INTEGER))
        |    AS qv FROM n)
        |SELECT vec_id, norm,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  list_min(qv) AS q_min, list_max(qv) AS q_max
        |FROM q ORDER BY vec_id""".stripMargin)),
    Query("kmeans_train_stats", ((s, dir) =>
      Similarity.kmeansTrainStats(Tables.embeddings(s, dir),
        cells = 8, iters = 3)), Oracle(
      // per-iteration k-means contract: every vector assigned (exact
      // count), cells within bounds, Lloyd objective non-decreasing —
      // float objective stays out of the hash (see kmeansTrainStats)
      """SELECT CAST(i AS INTEGER) AS iter,
        |  (SELECT count(*) FROM embeddings) AS n_assigned,
        |  1 AS cells_ok, 1 AS improved
        |FROM (SELECT unnest(generate_series(0, 2)) AS i) t
        |ORDER BY iter""".stripMargin)),
  )
}
