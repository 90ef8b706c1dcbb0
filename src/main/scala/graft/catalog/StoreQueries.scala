package graft.catalog

import graft.catalog.Shared._
import graft.operators._

/** The versioned IVFADC index store: persist, compact, manifest, rebuild,
  * lifecycle and forget episodes. */
object StoreQueries {

  val queries: Seq[Query] = Seq(
    // the stored-index round trip: persist partitionBy(cell), re-read
    // the files, probe FROM DISK — content checksum + probe equality
    // vs the in-memory artifact pinned (SourcesSpec pins the pruning
    // mechanics; this gates the result a deployment depends on)
    Query("ivfpq_store_gate", ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivfstore_").toString
      reapAtExit(tmp)
      Similarity.ivfPqStoreGate(s, dir, tmp)
    }), Oracle(
      // stored-index round trip: corpus/query counts exact, the
      // write/read/probe equality flags pinned 1
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_emb,
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings
        |   WHERE vec_id < 10) AS n_queries,
        |  1 AS store_complete, 1 AS store_match,
        |  1 AS probe_match""".stripMargin)),
    // cell compaction: real partition-append episodes -> one-file-
    // per-cell rewrite; file-count reduction, content checksum, and
    // compacted-store probe equality pinned. Bench-sized episode
    // (2 slices, ~sqrt(N)/2 cells) — the flags are cell-count-
    // independent; the full 4-slice scaledCells episode is priced in
    // ScaleStress
    Query("ivfpq_compact_gate", ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivfcompact_").toString
      reapAtExit(tmp)
      Similarity.ivfPqCompactGate(s, dir, tmp, benchSized = true)
    }), Oracle(
      // compaction gate: counts + the bench-sized cell arithmetic
      // (ceil(sqrt(N)/2) floored at 1, capped at the policy count)
      // SQL-exact, file-shape/content/probe flags pinned 1
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_emb
        |           FROM embeddings)
        |SELECT n_emb,
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings
        |   WHERE vec_id < 10) AS n_queries,
        |  CAST(GREATEST(1, LEAST(
        |    GREATEST(16, LEAST(4096,
        |      LEAST(CAST(ceil(4*sqrt(n_emb)) AS BIGINT), n_emb // 32))),
        |    CAST(ceil(sqrt(GREATEST(n_emb, 1))/2) AS BIGINT)))
        |    AS INTEGER) AS cells,
        |  1 AS files_reduced, 1 AS content_match, 1 AS probe_match
        |FROM n""".stripMargin)),
    // the compaction TRIGGER policy over the live manifest: build + 2
    // partition-appends, then both maybeCompact arms — unreachable
    // threshold provably no-ops (no commit), threshold 1.0 provably
    // fires (files >= occupied cells always) and the fired compact
    // preserves content/shape/probe
    Query("auto_compact_gate", ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_autocompact_").toString
      reapAtExit(tmp)
      Similarity.autoCompactGate(s, dir, tmp, benchSized = true)
    }), Oracle(
      // auto-compaction trigger: counts + the episode's version-log
      // length (build + 2 appends + exactly one fired compact) SQL-exact;
      // the no-op arm, fire arm and shape/content/probe flags pinned 1
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_emb
        |           FROM embeddings)
        |SELECT n_emb, n_emb - n_emb // 8 AS n_base,
        |  n_emb // 8 AS n_inc,
        |  CAST(4 AS BIGINT) AS versions_committed,
        |  1 AS noop_ok, 1 AS fired, 1 AS shape_ok, 1 AS content_ok,
        |  1 AS probe_ok
        |FROM n""".stripMargin)),
    // the SERVING MANIFEST: snapshot versioning over the stored index
    // (version-log commits, file-list snapshots) driven through every
    // mutation path on ONE store — build -> append (files shared by
    // reference) -> compact (full swap) -> forget (bounded rewrite) ->
    // pinned-v1 reader isolation -> live-store probe equality ->
    // vacuum-to-live; counts + live_version SQL-exact, flags pinned
    Query("index_manifest_gate", ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivfmanifest_").toString
      reapAtExit(tmp)
      Similarity.indexManifestGate(s, dir, tmp, benchSized = true)
    }), Oracle(
      // serving manifest: corpus/prefix-split/erasure-set counts and
      // live_version SQL-exact; the seven snapshot-contract flags
      // (op sequence, shared-file append, conservation, compact swap,
      // forget + bounded rewrite, probe/isolation/vacuum) pinned 1
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_emb
        |           FROM embeddings)
        |SELECT n_emb, n_emb - n_emb // 8 AS n_base,
        |  n_emb // 8 AS n_inc,
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings
        |   WHERE vec_id % 97 = 0) AS n_doomed,
        |  CAST(4 AS BIGINT) AS live_version,
        |  1 AS ops_ok, 1 AS append_shared, 1 AS append_conserved,
        |  1 AS compact_ok, 1 AS forget_ok, 1 AS forget_bounded,
        |  1 AS probe_ok, 1 AS pruned_probe_ok
        |FROM n""".stripMargin)),
    // drift-fired rebuild THROUGH the store: the decision's drift arm
    // fires on the re-encoded corpus (count arm provably silent), the
    // action is an atomic new-model-generation commit; old pinned
    // readers keep their generation, the new one re-gates recall.
    // Bench-sized (~sqrt(N)/2 cells for BOTH generations) — the flags
    // are cell-count-independent; the full corpus-count-policy episode
    // is priced in ScaleStress's manifest_rebuild row
    Query("manifest_rebuild_gate", ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivfrebuild_").toString
      reapAtExit(tmp)
      Similarity.manifestRebuildGate(s, dir, tmp, benchSized = true)
    }), Oracle(
      // drift-fired rebuild through the store: counts SQL-exact, the
      // count arm provably 0 (same size), drift/generation/isolation/
      // recall flags pinned
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_emb
        |           FROM embeddings)
        |SELECT n_emb AS n_base, n_emb AS n_now, 0 AS count_rebuild,
        |  1 AS drift_rebuild, 1 AS gen_advanced, 1 AS old_reader_ok,
        |  1 AS recall_ok
        |FROM n""".stripMargin)),
    // the INDEX-LIFECYCLE capstone (corpus_refresh_assembly's ANN
    // twin): morning-0 build -> real ivfPqAppend ingest -> rebuild
    // trigger evaluates -> the policy-deployed snapshot re-gates
    // recall — composed as ONE plan; counts + policy arithmetic
    // SQL-exact, composition flags pinned
    Query("ivfpq_lifecycle", ((s, dir) =>
      Similarity.ivfPqLifecycleGate(s, dir)), Oracle(
      // lifecycle capstone: the same count-policy arithmetic as the
      // reindex gate (IEEE sqrt exact), one composed row; the measured
      // composition flags (append conservation, cell-range safety,
      // full-k delivery, deployed-snapshot recall) pinned 1
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
        |SELECT n_base, GREATEST(n_now - n_base, 0) AS n_inc, n_now,
        |  stale_cells, fresh_cells,
        |  CASE WHEN fresh_cells >= 2*stale_cells THEN 1 ELSE 0 END
        |    AS rebuild,
        |  1 AS append_complete, 1 AS cells_in_range,
        |  1 AS full_k, 1 AS recall_ok FROM c""".stripMargin)),
    // right-to-be-forgotten for the vector tier (the cascade_delete
    // contract extended to the ANN index + k-NN graph): tombstone
    // anti-joins + bounded graph repair; zero deleted ids anywhere,
    // survivor conservation, full-k lists, survivor recall pinned
    Query("vector_forget_gate", ((s, dir) =>
      Similarity.vectorForgetGate(s, dir)), Oracle(
      // right-to-be-forgotten gate: doomed set is the cascade
      // convention (vec_id % 97 = 0) — counts exact, cleanliness/
      // conservation/repair/recall flags pinned 1
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_emb,
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings
        |   WHERE vec_id % 97 = 0) AS n_del,
        |  1 AS index_clean, 1 AS index_count_ok, 1 AS graph_clean,
        |  1 AS graph_full_k, 1 AS recall_ok""".stripMargin)),
  )
}
