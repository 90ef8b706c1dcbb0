package graft.catalog

import graft.catalog.Shared._

/** Structured-streaming queries whose settled result is batch-checkable. */
object StreamingQueries {

  /** Gaps-and-islands recompute of the 2h session windows; the HAVING
    * keeps exactly the sessions the streaming twin's final watermark
    * (global max ts, delay 0) has finalized. The batch sessionization
    * query (`user_sessions`, 30-min gap) has its own oracle — this one
    * exists for the CLOSED-cut streaming semantics. */
  private def streamedSessionsSql: String =
    s"""WITH b AS (
       |  SELECT user_id, ts, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |         OR ts - lag(ts) OVER w >= INTERVAL 2 HOUR
       |         THEN 1 ELSE 0 END AS brk
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       |s AS (
       |  SELECT user_id, ts, value,
       |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
       |      ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM b)
       |SELECT user_id,
       |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  round(sum(value), 2) AS sum_value,
       |  epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
       |FROM s GROUP BY user_id, sid
       |HAVING max(ts) + INTERVAL 2 HOUR <= (SELECT max(ts) FROM events)
       |ORDER BY user_id, session_start""".stripMargin

  val queries: Seq[Query] = Seq(
    // --- structured streaming (settled result is batch-checkable) ---
    Query("streamed_events_hourly", (graft.streaming.Streaming.streamedEventsHourly _),
      Oracle(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, count(*) AS n, round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),
    Query("streamed_segment_revenue", (graft.streaming.Streaming.streamedSegmentRevenue _),
      Oracle(
      """SELECT c_mktsegment, count(*) AS n_events,
        |  round(sum(value),2) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("streamed_conversions", (graft.streaming.Streaming.streamedConversions _),
      Oracle(
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  p.user_id,
        |  CAST(epoch(date_trunc('second', p.ts)) -
        |       epoch(date_trunc('second', c.ts)) AS BIGINT) AS delay_s,
        |  round(p.value, 6) AS value
        |FROM events c JOIN events p ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY click_id, purchase_id""".stripMargin)),
    Query("streamed_dedup_events", (graft.streaming.Streaming.streamedDedupEvents _),
      Oracle(
      // every event is streamed TWICE (self-union replay); the in-stream
      // dedup restores exactly the distinct set, so the oracle is the plain
      // batch count
      """SELECT event_type, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    // live-ingest drift monitor: stream-aggregated token histogram
    // (vocab-bounded state) diffed against yesterday's static snapshot
    Query("streamed_token_drift",
      ((s, dir) => graft.streaming.Streaming.streamedTokenDrift(s, dir, 30)), Oracle(
      // settled stream-static anti join == batch anti join
      // the settled stream histogram equals the batch histogram, so the
      // whole drift view is the plain before/after SQL; before is the
      // snapshot missing every 10th doc
      s"""WITH cb AS (
         |  SELECT lower(word) AS word, CAST(count(*) AS BIGINT)
         |    AS n_before
         |  FROM (SELECT unnest($DuckTokList) AS word
         |        FROM documents WHERE doc_id % 10 <> 0) x GROUP BY 1),
         |ca AS (
         |  SELECT lower(word) AS word, CAST(count(*) AS BIGINT)
         |    AS n_after
         |  FROM (SELECT unnest($DuckTokList) AS word
         |        FROM documents) x GROUP BY 1),
         |m AS (SELECT coalesce(cb.word, ca.word) AS word,
         |        coalesce(n_before, CAST(0 AS BIGINT)) AS n_before,
         |        coalesce(n_after, CAST(0 AS BIGINT)) AS n_after
         |      FROM cb FULL OUTER JOIN ca ON cb.word = ca.word)
         |SELECT word, n_before, n_after, n_after - n_before AS delta
         |FROM m ORDER BY abs(delta) DESC, word LIMIT 30""".stripMargin)),
    Query("streamed_dedup_against_base",
      (graft.streaming.Streaming.streamedDedupAgainstBase _), Oracle(
      """WITH base AS (SELECT md5(text) AS h FROM documents
        |              WHERE doc_id % 3 = 0)
        |SELECT lang, count(*) AS n_new_docs,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents
        |WHERE md5(text) NOT IN (SELECT h FROM base)
        |GROUP BY 1 ORDER BY lang""".stripMargin)),
    // model SERVING in the stream: batch-trained perceptron weights
    // ride every micro-batch plan as a literal; integer margins make
    // the settled result equal the batch scorer exactly
    Query("streamed_quality_filter",
      (graft.streaming.Streaming.streamedQualityFilter _), Oracle(
      s"""WITH $PerceptronSql,
         |pred AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN margin > 0 THEN 1 ELSE -1 END AS BIGINT)
         |      AS pred,
         |    margin
         |  FROM mfin)
         |SELECT d.lang, pred, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(margin) AS min_margin, max(margin) AS max_margin
         |FROM documents d JOIN pred USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // MinHash near-dup filter in the micro-batch path: stream-side
    // signatures vs the broadcast base band index, exact verify,
    // settles to the batch incrementalNearDup answer (shared oracle)
    Query("streamed_neardup_ingest",
      (graft.streaming.Streaming.streamedNearDupIngest _), Oracle(
      // the STREAMING ingest filter settles to the identical answer (same
      // candidates, same estimate cut, same exact J — see
      // Streaming.streamedNearDupIngest), so it shares the exact oracle
      incrementalNearDupSql)),
    // streaming ANN-index ingest: arrivals IVF-assign + PQ-encode
    // scan-side under the frozen nightly models (stateless — the
    // models are the state); settled rows pinned equal to the batch
    // ivfPqAppend of the same replay, counts SQL-recomputable
    Query("streamed_ivfpq_ingest",
      (graft.streaming.Streaming.streamedIvfPqIngest _), Oracle(
      // streaming ANN-index ingest: settled = batch ivfPqAppend of the
      // same replay (equality flags pinned; counts SQL-recomputable)
      """SELECT CAST(count(*) AS BIGINT) AS n_emb,
        |  CAST(count(*) AS BIGINT) AS n_stream,
        |  1 AS count_ok, 1 AS rows_ok FROM embeddings""".stripMargin)),
    // STREAMED ERASURE: right-to-be-forgotten requests as a stream,
    // each micro-batch = one bounded IndexStore.forget + one atomic
    // manifest commit; settled log length SQL-exact, re-drain on the
    // same checkpoint commits nothing (resume_safe), doomed ids gone,
    // survivors conserved, live probe still full-k
    Query("streamed_forget_gate", ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_sforget_root_").toString
      val work = java.nio.file.Files
        .createTempDirectory("graft_sforget_work_").toString
      reapAtExit(root); reapAtExit(work)
      graft.streaming.Streaming.streamedForget(s, dir, root, work,
        benchSized = true)
    }), Oracle(
      // streamed erasure: corpus + erasure-set counts and the settled
      // version-log length (1 build + one forget commit per request
      // slice) SQL-exact; erasure/conservation/resume/probe flags pinned
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_emb,
        |  CAST(sum(CASE WHEN vec_id % 97 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_doomed
        |  FROM embeddings)
        |SELECT n_emb, coalesce(n_doomed, 0) AS n_doomed,
        |  CASE WHEN n_emb = 0 THEN CAST(0 AS BIGINT)
        |       ELSE 1 + LEAST(3, coalesce(n_doomed, 0)) END
        |    AS versions_committed,
        |  CASE WHEN n_emb > 0 AND coalesce(n_doomed, 0) > 0
        |       THEN 1 ELSE 0 END AS exercised,
        |  1 AS doomed_gone, 1 AS conserved, 1 AS resume_safe,
        |  1 AS probe_full_k
        |FROM n""".stripMargin)),
    // STREAMED INGEST through the manifest: each micro-batch is one
    // transactional IndexStore.append (txn-stamped — a replayed batch
    // at/below the committed watermark is skipped, never duplicated);
    // settled log length SQL-exact, live content == batch append,
    // conservation, re-drain no-op, full-k probe
    Query("streamed_append_store", ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_sappend_root_").toString
      val work = java.nio.file.Files
        .createTempDirectory("graft_sappend_work_").toString
      reapAtExit(root); reapAtExit(work)
      graft.streaming.Streaming.streamedAppendStore(s, dir, root, work,
        benchSized = true)
    }), Oracle(
      // streamed transactional ingest: corpus/prefix-split counts and
      // the settled version-log length (1 build + one append commit per
      // arrival slice) SQL-exact; content/conservation/resume/probe
      // flags pinned
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_emb
        |           FROM embeddings)
        |SELECT n_emb, n_emb - n_emb // 8 AS n_base,
        |  n_emb // 8 AS n_inc,
        |  CASE WHEN n_emb = 0 THEN CAST(0 AS BIGINT)
        |       ELSE 1 + LEAST(3, n_emb // 8) END AS versions_committed,
        |  CASE WHEN n_emb // 8 > 0 THEN 1 ELSE 0 END AS exercised,
        |  1 AS content_match, 1 AS conserved, 1 AS resume_safe,
        |  1 AS probe_full_k
        |FROM n""".stripMargin)),
    // MIXED-MUTATION LIFECYCLE: appends AND forgets interleaved
    // through ONE checkpointed stream onto ONE store — txn-stamped
    // append commits, idempotent forget commits, settled log length
    // SQL-exact, live content == the batch sequence, re-drain no-op,
    // full-k probe (the kill-resume half lives in StreamingSpec)
    Query("streamed_lifecycle_gate", ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_slife_root_").toString
      val work = java.nio.file.Files
        .createTempDirectory("graft_slife_work_").toString
      reapAtExit(root); reapAtExit(work)
      graft.streaming.Streaming.streamedLifecycle(s, dir, root, work,
        benchSized = true)
    }), Oracle(
      // mixed lifecycle stream: split/erasure-set counts and the
      // settled version-log length — MEASURED Spark-side, predicted
      // here: the gated (bench-sized) tape is 1 build + one txn-stamped
      // append (whole increment, if non-empty) + one idempotent forget
      // (base % 61, if non-empty); content/conservation/resume/probe
      // flags pinned, `exercised` recomputed from corpus counts so a
      // degenerate escape can't pose as a driven run
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_emb
        |           FROM embeddings),
        |r AS (SELECT vec_id,
        |        row_number() OVER (ORDER BY vec_id) AS rn
        |      FROM embeddings),
        |b AS (SELECT
        |    CAST(coalesce(sum(CASE WHEN vec_id % 122 = 0
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_f1,
        |    CAST(coalesce(sum(CASE WHEN vec_id % 61 = 0
        |      AND vec_id % 122 <> 0 THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS n_f2
        |  FROM r, n WHERE rn <= n_emb - n_emb // 8)
        |SELECT n_emb, n_emb - n_emb // 8 AS n_base,
        |  n_emb // 8 AS n_inc,
        |  coalesce(n_f1, 0) + coalesce(n_f2, 0) AS n_doomed,
        |  CASE WHEN n_emb = 0 THEN CAST(0 AS BIGINT)
        |    ELSE 1 + (CASE WHEN n_emb // 8 > 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN coalesce(n_f1, 0) + coalesce(n_f2, 0) > 0
        |        THEN 1 ELSE 0 END)
        |    END AS versions_committed,
        |  CASE WHEN n_emb > 0 AND (n_emb // 8 > 0
        |      OR coalesce(n_f1, 0) + coalesce(n_f2, 0) > 0)
        |    THEN 1 ELSE 0 END AS exercised,
        |  1 AS content_match, 1 AS conserved, 1 AS resume_safe,
        |  1 AS probe_full_k
        |FROM n, b""".stripMargin)),
    // the streaming twin of user_sessions (the batch session_window
    // query above at 549): append mode + watermark finalizes exactly
    // the CLOSED sessions (end <= final watermark = max ts), a cut the
    // oracle re-states as a HAVING — hash-green, not rows-only
    Query("streamed_sessions",
      (graft.streaming.Streaming.streamedSessions _), Oracle(
      // the streaming twin emits exactly the CLOSED sessions — end
      // (last event + gap) <= the final watermark (global max ts)
      streamedSessionsSql)),
    // --- streaming ordered per-key state (flatMapGroupsWithState) ---
    Query("streamed_transitions",
      ((s, dir) => graft.streaming.Streaming.streamedTransitions(s, dir)), Oracle(
      """WITH seq AS (
        |  SELECT user_id, event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS dst
        |  FROM events)
        |SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt
        |FROM seq WHERE dst IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
  )
}
