package graft.streaming

import graft.functions.TextFunctions._
import graft.gates.Audit
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.util.concurrent.atomic.AtomicInteger

/** Structured Streaming operators: the reference's batch word-count with
  * its map→reduce barrier (SURVEY.md §2.2 C3) becomes a continuously
  * updated streaming aggregation; the events table gets watermarked
  * tumbling-window aggregation.
  *
  * All transforms are the same Column expressions as the batch operators —
  * one definition, two execution modes — which is the Spark-native answer
  * to the reference's hard-coded two-phase pipeline.
  */
object Streaming {

  /** Streaming word count over a streaming text DataFrame. Emits the
    * running (word, cnt) state; pair with outputMode update/complete. */
  def wordCountStream(lines: DataFrame, textCol: String,
                      caseSensitive: Boolean): DataFrame =
    lines.select(explode(tokenize(col(textCol))).as("word"))
      .select(foldCase(col("word"), caseSensitive).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** Watermarked tumbling-window aggregation over a streaming events
    * frame (ts: timestamp, event_type, value). */
  def eventsWindowed(events: DataFrame, windowLen: String,
                     watermarkDelay: String): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))

  /** Sliding-window variant: windows of `windowLen` advancing every
    * `slide` — each event lands in windowLen/slide windows (the overlap
    * factor is the row-amplification cost; keep it small at scale). */
  def eventsSliding(events: DataFrame, windowLen: String, slide: String,
                    watermarkDelay: String): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))

  /** Streaming sessionization — per-user session windows with the gap
    * timeout the batch [[graft.operators.EventAnalytics.sessionize]]
    * uses (one aggregation body, two execution modes). Append mode +
    * event-time watermark: a session FINALIZES (emits, state evicts)
    * when the watermark passes its end (last event + gap), so the
    * settled result is exactly the CLOSED sessions — every session
    * whose end ≤ the final watermark (max event time, delay 0). The
    * tail-open sessions (each user's last burst, still within one gap
    * of the stream head) stay in the state store awaiting more data,
    * which is precisely what a continuous pipeline means by an open
    * session — and the cut is SQL-recomputable EXACTLY
    * (last_ts + gap ≤ global max ts), so the query is hash-green, not
    * rows-only. State is O(open sessions), watermark-bounded; the only
    * shuffle is the user_id session aggregation. */
  def streamedSessions(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.EventAnalytics
    val agg = EventAnalytics.sessionize(
      eventsStream(s, dir).withWatermark("ts", "0 seconds"))
    settle(agg, "graft_stream_sessions", mode = "append")
      .orderBy("user_id", "session_start")
  }

  /** Streaming exact dedup at ingest: drop rows whose content hash was
    * already seen, with state bounded by the watermark (late duplicates
    * beyond the delay are the batch dedup tier's job — this is the
    * classic two-tier design: cheap in-stream suppression, periodic exact
    * compaction). `dropDuplicatesWithinWatermark` keys state eviction on
    * the event-time watermark, so state size is O(rows per delay window),
    * not O(stream history). */
  def dedupStream(rows: DataFrame, textCol: String, tsCol: String,
                  watermarkDelay: String): DataFrame =
    rows.withColumn("content_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")

  private val runId = new AtomicInteger(0)

  /** File-source stream over the events parquet table (schema probed from
    * a batch read; ts normalized to TIMESTAMP exactly like Tables.events —
    * raw nanos-as-long and TIMESTAMP_NTZ both covered, so withWatermark
    * downstream always sees a plain timestamp). The file stream source
    * requires a directory: stream the sf dir glob-filtered down to the
    * events table. */
  def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/events.parquet")
    val stream0 = s.readStream.schema(raw.schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    graft.sources.Tables.normalizeTsColumn(stream0)
  }

  /** Run a streaming aggregation to its settled state through a memory
    * sink (Trigger.AvailableNow, complete mode) and return it. The memory
    * sink is driver-side and bounded by the aggregate's key count — fine
    * for the check; an unbounded-horizon production run writes to files.
    *
    * Shuffle partitions are capped for the settle run: each stateful
    * partition instantiates its own state store PER MICRO-BATCH, so a
    * tiny-keyspace replay on 32 partitions pays 32× store open/commit
    * overhead for no parallelism gain. The cap is scoped to the stream
    * (conf saved/restored around it); a production deployment with a big
    * keyspace sets its own partition count — there you WANT the fan-out,
    * and the partition count is locked into the checkpoint anyway. */
  private val SettlePartitions = "4"

  /** Final progress of the most recent settle run — test introspection
    * only (StreamingSpec pins statelessness claims against the actual
    * stateOperators the run reported). */
  @volatile private[graft] var lastSettleProgress
      : Option[org.apache.spark.sql.streaming.StreamingQueryProgress] = None

  private def settle(agg: DataFrame, name0: String,
                     mode: String = "complete"): DataFrame = {
    val s = agg.sparkSession
    val name = s"${name0}_${runId.incrementAndGet()}"
    val key = "spark.sql.shuffle.partitions"
    val saved = s.conf.get(key)
    s.conf.set(key, SettlePartitions)
    try {
      val q = agg.writeStream
        .format("memory").queryName(name)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      lastSettleProgress = Option(q.lastProgress)
    } finally s.conf.set(key, saved)
    s.table(name)
  }

  /** Stream-stream inner join: click→purchase conversions within one
    * hour, per user. Both sides carry watermarks and the join condition
    * bounds purchase time to [click, click+1h], so the state store holds
    * only the watermark horizon of each side — O(rows per hour), not
    * O(stream history). Inner joins emit eagerly on match, so append
    * mode + AvailableNow settles to exactly the batch self-join, which
    * the DuckDB oracle recomputes. */
  def streamedConversions(s: SparkSession, dir: String): DataFrame = {
    val clicks = eventsStream(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val buys = eventsStream(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = clicks.join(buys,
        col("c_user") === col("user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        (unix_timestamp(col("purchase_ts")) -
         unix_timestamp(col("click_ts"))).as("delay_s"),
        round(col("value"), 6).as("value"))
    settle(joined, "graft_stream_conv", mode = "append")
  }

  /** Stream-static join: the events stream enriched with the static
    * customer dimension and aggregated to per-segment totals. The static
    * side is re-planned per micro-batch like any batch join — broadcast
    * here, so the stream side never shuffles for the join; only the
    * 5-key segment aggregate shuffles its partial rows. Settled result
    * equals the batch join+agg, which is what the DuckDB oracle checks. */
  def streamedSegmentRevenue(s: SparkSession, dir: String): DataFrame = {
    val cust = graft.sources.Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = eventsStream(s, dir)
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
    settle(agg, "graft_stream_segment").orderBy("c_mktsegment")
  }

  /** Batch-checkable streaming demo: stream the events parquet through a
    * windowed aggregation (Trigger.AvailableNow, complete mode, memory
    * sink) and return the settled result — byte-identical to the batch
    * events_hourly aggregation, which is what the DuckDB oracle checks. */
  def streamedEventsHourly(s: SparkSession, dir: String): DataFrame = {
    val agg = eventsWindowed(eventsStream(s, dir), "1 hour", "1 hour")
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("sum_value"))
    settle(agg, "graft_stream_hourly")
  }

  /** File-source stream over the documents parquet table (same shape as
    * [[eventsStream]]). */
  def documentsStream(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/documents.parquet")
    s.readStream.schema(raw.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
  }

  /** File-source stream over the embeddings parquet table (same shape as
    * [[eventsStream]]). */
  def embeddingsStream(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/embeddings.parquet")
    s.readStream.schema(raw.schema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
  }

  /** Streaming ANN-INDEX ingest — the embedding-side complement of
    * [[streamedNearDupIngest]], closing the crawl → embed → index stack:
    * freshly embedded documents stream in and each row is IVF-assigned +
    * PQ-encoded under the FROZEN nightly models
    * ([[graft.operators.Similarity.ivfPqAppend]]'s daily-ingest
    * contract), producing (nn_id, cell, codes) rows that
    * partition-append straight into the cell-partitioned IVFADC layout.
    *
    * Shape: the models (IVF centroids + PQ codebooks — driver-bounded
    * metadata, ≤4096 cells × dim + 16×16×subdim doubles) train
    * batch-side ONCE on the base corpus at the corpus-count cell policy
    * (`scaledCells`); the stream side is PURE scan-fused column math —
    * cell argmax against the centroid literal, 16 per-subspace code
    * argmins — so the stream never shuffles and holds NO state store
    * (the frozen models ARE the state, carried as literals in the
    * expression tree). Every emitted row is a pure function of
    * (vector, models), so a checkpointed restart replays only
    * unprocessed files, and the settled row set EQUALS the batch
    * [[graft.operators.Similarity.ivfPqAppend]] of the same replay —
    * pinned here row-for-row (cell AND codes, both encodings' frozen-
    * model determinism already gated by `ivfpq_append_gate`) with
    * SQL-recomputable counts, and again by StreamingSpec's
    * settled-equals-batch / zero-state-operators / kill-resume cases.
    *
    * At 100 TB: each micro-batch writes its rows as new per-cell files
    * (partition-append, never a rewrite), so index freshness is bounded
    * by the trigger interval while probes keep reading nprobe cell
    * directories; staleness of the MODELS — the corpus outgrowing the
    * trained cell count — is the rebuild trigger
    * [[graft.operators.Similarity.ivfPqReindexGate]] pins. */
  def streamedIvfPqIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    import graft.sources.Tables
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    // yesterday's corpus: the nightly build the models freeze on (the
    // ivfPqAppendGate increment convention — vec_id < 50 arrive "today")
    val base = emb.filter(col("vec_id") >= 50)
    val nBase = base.count()
    val (cents, cb, _) =
      Similarity.ivfPqIndex(base, Similarity.scaledCells(nBase))
    val settled = settle(
      Similarity.ivfPqAppend(cents, cb, embeddingsStream(s, dir)),
      "graft_stream_ivfpq", mode = "append")
    val batch = Similarity.ivfPqAppend(cents, cb, emb)
      .select(col("nn_id"), col("cell").as("cell_b"),
        col("codes").as("codes_b"))
    val nEmb = emb.count()
    val nSettled = settled.count()
    val j = settled.join(batch, Seq("nn_id"))
      .agg(count(lit(1)).as("n_join"),
        coalesce(sum((col("cell") === col("cell_b") &&
          col("codes") === col("codes_b")).cast("long")), lit(0L))
          .as("n_eq"))
      .head()
    Seq((nEmb, nSettled,
      if (j.getLong(0) == nEmb && nSettled == nEmb) 1 else 0,
      if (j.getLong(1) == nEmb) 1 else 0))
      .toDF("n_emb", "n_stream", "count_ok", "rows_ok")
  }

  /** STREAMED ERASURE — the one lifecycle mutation the streaming
    * family didn't cover: right-to-be-forgotten requests arrive as a
    * STREAM and tombstone their ids out of the LIVE stored index. Each
    * micro-batch drives [[graft.sources.IndexStore.forget]] through
    * `foreachBatch` — the store's bounded rewrite (only the cells
    * holding doomed rows) plus one atomic manifest commit per batch,
    * so readers always probe a consistent snapshot: every id is either
    * fully present or fully gone, never mid-delete.
    *
    * Replay correctness is IDEMPOTENCE, not dedup state: a batch
    * replayed after a kill re-forgets already-absent ids, which
    * touches no cell and commits a content-identical snapshot (the
    * IndexStoreSpec-pinned contract) — so the sink needs NO state
    * store and no batch-id bookkeeping. StreamingSpec drives the
    * actual kill: stop mid-stream, resume from the checkpoint, settle,
    * and the live snapshot equals the batch forget of the same ids.
    *
    * Evidence shape (this gate): build publishes v1 batch-side; the
    * erasure set (`vec_id % 97 == 0`) lands as min(3, n_doomed)
    * single-slice request files streamed one per micro-batch
    * (`maxFilesPerTrigger = 1`). `versions_committed` is MEASURED
    * from the settled log (`IndexStore.versions`), so the hashed
    * column pins the store's actual history against the oracle's
    * 1 + min(3, n_doomed) prediction — a stream that commits the
    * wrong number of versions goes red on its own column, and
    * `resume_safe` carries the re-drain no-op property ALONE. Then
    * the same stream restarts on the SAME checkpoint: AvailableNow
    * finds nothing unprocessed and commits NOTHING (`resume_safe`) —
    * the settled-state half of the kill-resume contract, in the gate
    * itself. `exercised` declares whether the stream actually drove
    * mutations (0 on the degenerate escapes); the oracle recomputes
    * it from corpus counts, so a silent trainer degeneration on a
    * healthy-sized corpus cannot masquerade as a passing run. Flags:
    * `doomed_gone` (zero erased ids in the live snapshot),
    * `conserved` (survivor count exact), `resume_safe`, and
    * `probe_full_k` (the live store still serves complete result
    * lists under the shipped policies).
    *
    * The erasure set stays a DATAFRAME end to end — request slices
    * are written from it (deterministic `row_number` split) and
    * [[graft.sources.IndexStore.forget]] consumes each micro-batch
    * frame as-is, so nothing id-shaped ever collects to the driver:
    * the gate is the same shape a production erasure flow copies.
    *
    * `benchSized = true` (the GATED invocation) builds the store at
    * ~√N/2 cells — the family arithmetic ([[streamedLifecycle]],
    * [[streamedAppendStore]], `indexManifestGate`) on the FULL corpus
    * this gate erases from. Every hashed column is cell-count-
    * independent: the settled version count is tape-length math, the
    * erasure/conservation audits are id-membership sums, and the
    * probe flag re-derives its policies from the live snapshot's own
    * cell count. The corpus-count-policy data plane stays priced in
    * ScaleStress (`index_manifest` carries the full-cell forget). */
  def streamedForget(s: SparkSession, dir: String, root: String,
                     work: String, k: Int = 5,
                     benchSized: Boolean = false): DataFrame = {
    import s.implicits._
    import graft.operators.Similarity
    import graft.sources.{IndexStore, Tables}
    val emb = Tables.embeddings(s, dir)
    // one scan for all three prelude scalars (corpus, doomed, probe
    // queries) instead of three count jobs — guide §1.2
    val Seq(n, nDoomed, nq) =
      Audit.counts(emb, col("vec_id") % 97 === 0, col("vec_id") < 10)
    val doomed = emb.filter(col("vec_id") % 97 === 0).select("vec_id")
    val slices = math.min(3L, nDoomed)
    def row(versions: Long, exercised: Int, f: (Int, Int, Int, Int)) =
      Seq((n, nDoomed, versions, exercised, f._1, f._2, f._3, f._4))
        .toDF("n_emb", "n_doomed", "versions_committed", "exercised",
          "doomed_gone", "conserved", "resume_safe", "probe_full_k")
    if (n == 0L) return row(0L, 0, (1, 1, 1, 1))
    val cells =
      if (benchSized)
        Similarity.benchSizedCells(n)
      else Similarity.scaledCells(n)
    val v1 = IndexStore.build(s, root, emb, Some(cells))
    if (v1.cents.isEmpty || nDoomed == 0L)
      return row(IndexStore.versions(s, root).length.toLong, 0,
        (1, 1, 1, 1))
    // the erasure requests, as min(3, n) slice files — one micro-batch
    // each under maxFilesPerTrigger = 1, split from the DataFrame by
    // sorted position (the set is tiny — n/97 — so the single-task
    // window is fine; the point is the PATTERN: no driver-side ids).
    // ONE partitioned write: a per-slice filter+write recomputed the
    // window and rescanned `doomed` once per slice (3 extra jobs over
    // the same frame); partitionBy lands one file per __slice dir in
    // a single job, and the stream reads the leaves recursively
    val reqDir = s"$work/requests"
    writeSlices(doomed,
      pmod(row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy("vec_id")) - 1, lit(slices.toInt)), slices, reqDir)
    val (settledVersions, resumeSafe) = drainTwice(s, root, work,
        _.schema("vec_id LONG").option("recursiveFileLookup", "true")
          .parquet(reqDir)) { (b, _) =>
      // no isEmpty probe (one Spark job per micro-batch): the store's
      // own footprint decision makes a touch-nothing batch commit-free
      IndexStore.forget(s, root, b, noopOnEmpty = true); ()
    }
    val live = IndexStore.open(s, root)
    val codes = IndexStore.codes(s, root, live)
    val nLive = n - nDoomed
    val queries = emb.filter(col("vec_id") < 10)
    val rr = Similarity.scaledRerank(nLive)
    val np = Similarity.scaledNprobe(nLive, live.cells, rr)
    val ann = Similarity.knnIvfPqServe(emb, codes, live.cents, live.cb,
      queries, k, np, rr)
    // the two audit reads (store fingerprint+residue, probe count) are
    // independent — overlap them (guide §2.6)
    val (a, nAnn) = Audit.parallel(
      Audit.counts(codes, col("nn_id") % 97 === 0), ann.count())
    val doomedGone = if (a(1) == 0L) 1 else 0
    val conserved = if (a(0) == nLive && live.nRows == nLive) 1 else 0
    // a surviving query can match nLive-1 others, an erased one nLive
    val kEff = Audit.kEff(k, nLive)
    val fullK = if (nAnn >= nq * kEff && nAnn <= nq * k) 1 else 0
    row(settledVersions.length.toLong, 1,
      (doomedGone, conserved, resumeSafe, fullK))
  }

  /** Land `df` as request files under `dir` in ONE job, one
    * `__slice=<i>` directory per 0-based `slice` value of `slices`. The
    * value is zero-padded to the width of `slices − 1` so the slice
    * directories sort — and list — in slice order past 10 slices
    * (unpadded, `__slice=10` sorts before `__slice=2`). */
  private[graft] def writeSlices(df: DataFrame, slice: Column, slices: Long,
                                 dir: String): Unit =
    df.withColumn("__slice", lpad(slice.cast("string"),
        math.max(slices - 1, 0L).toString.length, "0"))
      .coalesce(1).write.partitionBy("__slice")
      .mode("append").parquet(dir)

  /** Drain the request files `requests` reads (one micro-batch per
    * file) into `sink` through the checkpointed stream at `work/ckpt`,
    * then restart on the SAME checkpoint: the re-drain must find
    * nothing unprocessed and commit nothing — the settled-state half of
    * kill-resume (the killed half lives in StreamingSpec). Returns the
    * settled version log and the `resume_safe` flag. */
  private def drainTwice(s: SparkSession, root: String, work: String,
      requests: org.apache.spark.sql.streaming.DataStreamReader => DataFrame)
      (sink: (DataFrame, Long) => Unit): (Seq[Long], Int) = {
    import graft.sources.IndexStore
    def drain(): Unit =
      requests(s.readStream.option("maxFilesPerTrigger", 1))
        .writeStream.option("checkpointLocation", s"$work/ckpt")
        .foreachBatch(sink).trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    drain()
    val settled = IndexStore.versions(s, root)
    drain()
    (settled, if (IndexStore.versions(s, root) == settled) 1 else 0)
  }

  /** STREAMED INGEST THROUGH THE MANIFEST — the other half of the
    * store's streaming story next to [[streamedForget]]: freshly
    * embedded arrivals stream in and each micro-batch partition-appends
    * into the LIVE stored index via
    * [[graft.sources.IndexStore.append]] — encode under the frozen v1
    * models, write ONLY the increment's files, one atomic manifest
    * commit per batch. Unlike erasure, append is NOT naturally
    * idempotent (a replayed batch would DUPLICATE rows), so each
    * commit is stamped with the sink's transaction identity
    * (`txn_app`/`txn_version` — the public Delta txnAppId/txnVersion
    * idempotent-sink pattern) and a replayed micro-batch at or below
    * the committed watermark is skipped ENTIRELY. StreamingSpec drives
    * the kill and the committed-but-unacknowledged replay — the exact
    * window where an unstamped sink double-ingests.
    *
    * Evidence shape: v1 = the 7/8-prefix build; the remaining 1/8
    * arrives as min(3, n_inc) range-slice files, one append commit per
    * micro-batch. `versions_committed` is MEASURED from the settled
    * log against the oracle's 1 + min(3, n_inc) prediction (a
    * mis-committing stream goes red on its own column), `exercised`
    * declares whether the stream drove mutations (oracle-recomputed
    * from corpus counts — a silent trainer degeneration can't pass),
    * and `resume_safe` carries the re-drain no-op property alone.
    * Flags: `content_match` (the live store content-equals the batch
    * append of the same increment under the same frozen models —
    * byte-equal by the `ivfpq_append_gate` determinism contract),
    * `conserved` (live row count = corpus), `resume_safe`,
    * `probe_full_k`.
    *
    * `benchSized = true` (the GATED invocation) builds the store at
    * ~√N_base/2 cells — the [[streamedLifecycle]] arithmetic exactly,
    * on the SAME 7/8-prefix base corpus as `index_manifest_gate`'s
    * bench-sized arm, so the bench warm-up's one training serves all
    * three gates from the per-JVM registry. Every hashed column is
    * cell-count-independent (versions, conservation, content equality
    * is BUILT at the same cells, full-k probe). The corpus-count-
    * policy episode stays in ScaleStress. */
  def streamedAppendStore(s: SparkSession, dir: String, root: String,
                          work: String, k: Int = 5,
                          benchSized: Boolean = false): DataFrame = {
    import s.implicits._
    import graft.operators.Similarity
    import graft.sources.{IndexStore, Tables}
    val emb = Tables.embeddings(s, dir)
    // one scan for corpus count + probe-query count — guide §1.2
    val Seq(n, nq) = Audit.counts(emb, col("vec_id") < 10)
    val nBase = n - n / 8
    val nInc = n / 8
    val slices = math.min(3L, nInc)
    def row(versions: Long, exercised: Int, f: (Int, Int, Int, Int)) =
      Seq((n, nBase, nInc, versions, exercised, f._1, f._2, f._3, f._4))
        .toDF("n_emb", "n_base", "n_inc", "versions_committed",
          "exercised", "content_match", "conserved", "resume_safe",
          "probe_full_k")
    if (n == 0L) return row(0L, 0, (1, 1, 1, 1))
    val thr = Similarity.prefixThreshold(emb, nBase)
    val base = emb.filter(col("vec_id") <= thr)
    val inc = emb.filter(col("vec_id") > thr)
    val cells =
      if (benchSized)
        Similarity.benchSizedCells(nBase)
      else Similarity.scaledCells(nBase)
    val v1 = IndexStore.build(s, root, base, Some(cells))
    if (v1.cents.isEmpty || nInc == 0L)
      return row(IndexStore.versions(s, root).length.toLong, 0,
        (1, 1, 1, 1))
    // the arrivals, as range slices (order statistics of the increment
    // — scale-clean, never an isin list), one file per slice. ONE
    // partitioned write: the per-slice filter+write re-scanned the
    // increment once per slice (guide §1.2); __slice derives from the
    // SAME range bounds, partitionBy lands one file per slice dir in a
    // single job, and the stream reads the leaves recursively (slice
    // dirs list in slice order, so the micro-batch order is unchanged)
    val reqDir = s"$work/arrivals"
    val cuts = (1L until slices).map(i =>
      Similarity.prefixThreshold(inc, i * nInc / slices))
    val bounds = (Seq(thr) ++ cuts :+ Long.MaxValue).sliding(2).toSeq
    val sliceCol = bounds.zipWithIndex.foldLeft(lit(-1)) {
      case (acc, (b, i)) =>
        when(col("vec_id") > b.head && col("vec_id") <= b(1), lit(i))
          .otherwise(acc)
    }
    writeSlices(inc, sliceCol, slices, reqDir)
    val (settledVersions, resumeSafe) = drainTwice(s, root, work,
        _.schema(s.read.parquet(s"$dir/embeddings.parquet").schema)
          .option("recursiveFileLookup", "true").parquet(reqDir)) {
      (b, id) =>
        // no isEmpty probe: append's own count (already taken for the
        // commit) makes an empty batch commit-free
        IndexStore.append(s, root, b,
          txn = Some(("graft_stream_append", id)), noopOnEmpty = true)
        ()
    }
    val live = IndexStore.open(s, root)
    val codes = IndexStore.codes(s, root, live)
    // the batch form is built at the SAME cells as the store (the
    // bench-sized arm included) — content equality is per-cell-exact
    val (cents0, cb0, idx0) = Similarity.ivfPqIndex(base, cells)
    val queries = emb.filter(col("vec_id") < 10)
    val rr = Similarity.scaledRerank(n)
    val np = Similarity.scaledNprobe(n, live.cells, rr)
    val ann = Similarity.knnIvfPqServe(emb, codes, live.cents, live.cb,
      queries, k, np, rr)
    // the three audit reads (live fingerprint, batch-form fingerprint,
    // probe count) are independent — overlap them (guide §2.6)
    val ((fpLive, fpBatch), nAnn) = Audit.parallel(
      Audit.parallel(Audit.fingerprint(codes, Similarity.CodeCols),
        Audit.fingerprint(idx0.select("nn_id", "cell", "codes").unionAll(
          Similarity.ivfPqAppend(cents0, cb0, inc)), Similarity.CodeCols)),
      ann.count())
    val contentMatch = if (fpLive == fpBatch) 1 else 0
    val conserved = if (fpLive._1 == n && live.nRows == n) 1 else 0
    val kEff = Audit.kEff(k, n)
    val fullK = if (nAnn == nq * kEff) 1 else 0
    row(settledVersions.length.toLong, 1,
      (contentMatch, conserved, resumeSafe, fullK))
  }

  /** MIXED-MUTATION LIFECYCLE STREAM — the composition a real
    * ingest+erasure deployment actually runs, and the capstone over
    * [[streamedForget]] and [[streamedAppendStore]] (which each gate
    * one mutation kind on its own store): arrivals AND
    * right-to-be-forgotten requests interleave through ONE
    * checkpointed stream onto ONE live store. Each request file is a
    * micro-batch (`maxFilesPerTrigger = 1`) carrying a `kind` column;
    * the sink dispatches — appends commit txn-stamped (the Delta
    * txnAppId/txnVersion idempotent-sink pattern; a replayed batch at
    * or below the committed watermark is skipped ENTIRELY), forgets
    * commit unstamped because their replay is idempotent by
    * construction. One checkpoint, one batch-id sequence, two replay
    * disciplines — the asymmetry is the point of the composition, and
    * StreamingSpec drives a real kill BETWEEN an append commit and a
    * forget commit plus the forget-of-a-streamed-arrival ordering
    * hazard (this gate's erasure targets live in the v1 base, so its
    * settled state is independent of micro-batch arrival order —
    * deterministic by design, not by file-listing luck).
    *
    * Evidence shape: v1 = the 7/8-prefix build (the SAME base corpus
    * [[streamedAppendStore]] and the manifest gate use, so the bench
    * warm-up's trained models serve this gate's pass 1 from the
    * registry instead of flagging a permanent cold-train noisy row);
    * the mutation tape is append(first half of the increment),
    * forget(base ids ≡ 0 mod 122), append(second half), forget(base
    * ids ≡ 0 mod 61 less the first erasure set) — so the settled log
    * holds 1 + (non-empty slices) versions. `versions_committed` is
    * MEASURED from the settled log against the oracle's prediction (a
    * mis-committing stream goes red on its own column, and
    * `resume_safe` carries the re-drain no-op property alone);
    * `exercised` declares whether the stream actually drove mutations
    * (0 on the degenerate escapes) and the oracle recomputes it from
    * corpus counts, so a silent trainer degeneration on a
    * healthy-sized corpus cannot masquerade as a passing lifecycle
    * run. Flags: `content_match` (live store
    * content-equals the BATCH form — index(base) ∪ append(increment)
    * under the same frozen models, anti-joined by the erasure set),
    * `conserved` (live rows = corpus − erased), `resume_safe` (a
    * re-drain on the same checkpoint commits nothing), `probe_full_k`
    * (the settled store serves complete result lists).
    *
    * The erasure sets stay DATAFRAMES end to end (request files are
    * written from them; `IndexStore.forget` consumes each micro-batch
    * frame) — nothing id-shaped collects to the driver, so the gate
    * is the exact shape a production ingest+erasure flow copies.
    *
    * `benchSized = true` (the GATED invocation) shrinks the episode
    * to what the flags need — the `ivfPqCompactGate` precedent, on
    * both axes. Cells: ~√N/2 instead of the ~4√N policy (every flag
    * is cell-count-independent; episode wall-clock is per-cell file
    * metadata and cells-linear encode/probe math; the batch form is
    * built at the SAME cells). Tape: ONE txn-stamped append (the
    * whole increment) + ONE idempotent forget (the whole erasure
    * set) — still both replay disciplines through one checkpoint,
    * one dispatch, one batch-id sequence, so every flag pins the
    * same contract; the settled log is 1 + (inc non-empty) + (doomed
    * non-empty) versions, which is what the oracle predicts for the
    * gated arm. The FULL corpus-count-policy 4-slice interleave
    * stays in `tools/ScaleStress.scala` (priced at 10×) and
    * StreamingSpec (the kill-mid-interleave ordering hazard). */
  def streamedLifecycle(s: SparkSession, dir: String, root: String,
                        work: String, k: Int = 5,
                        benchSized: Boolean = false): DataFrame = {
    import s.implicits._
    import graft.operators.Similarity
    import graft.sources.{IndexStore, Tables}
    val emb = Tables.embeddings(s, dir)
    // one scan for corpus count + probe-query count — guide §1.2
    val Seq(n, nq) = Audit.counts(emb, col("vec_id") < 10)
    val nBase = n - n / 8
    val nInc = n / 8
    def row(nDoomed: Long, versions: Long, exercised: Int,
            f: (Int, Int, Int, Int)) =
      Seq((n, nBase, nInc, nDoomed, versions, exercised,
          f._1, f._2, f._3, f._4))
        .toDF("n_emb", "n_base", "n_inc", "n_doomed",
          "versions_committed", "exercised", "content_match",
          "conserved", "resume_safe", "probe_full_k")
    if (n == 0L) return row(0L, 0L, 0, (1, 1, 1, 1))
    val thr = Similarity.prefixThreshold(emb, nBase)
    val base = emb.filter(col("vec_id") <= thr)
    val inc = emb.filter(col("vec_id") > thr)
    // erasure sets from the BASE (present from v1, so the settled
    // state is arrival-order-independent): ≡0 mod 122 first, the rest
    // of ≡0 mod 61 second — both SQL-recomputable, both kept as
    // DataFrames (counts are scalar aggregates, never id collects)
    val f1 = base.filter(col("vec_id") % 122 === 0).select("vec_id")
    val f2 = base.filter(
        col("vec_id") % 61 === 0 && col("vec_id") % 122 =!= 0)
      .select("vec_id")
    val Seq(_, nF1, nF2) = Audit.counts(base, col("vec_id") % 122 === 0,
      col("vec_id") % 61 === 0 && col("vec_id") % 122 =!= 0)
    val nDoomed = nF1 + nF2
    val nA1 = nInc / 2
    // bench arm: ceil(√N_base/2) cells, floored at 1, never above the
    // corpus-count policy (the ivfPqCompactGate arithmetic)
    val cells =
      if (benchSized)
        Similarity.benchSizedCells(nBase)
      else Similarity.scaledCells(nBase)
    val v1 = IndexStore.build(s, root, base, Some(cells))
    if (v1.cents.isEmpty || (nInc == 0L && nDoomed == 0L))
      return row(nDoomed, IndexStore.versions(s, root).length.toLong,
        0, (1, 1, 1, 1))
    // the mutation tape: one request file per micro-batch, unified
    // (vec_id, embedding, kind) schema — embedding null on erasures
    val embT = emb.schema("embedding").dataType
    val reqDir = s"$work/requests"
    // emptiness is decided from counts already in hand — an isEmpty
    // probe per send is one extra Spark job each on a tiny frame
    def sendAppend(df: DataFrame, nonEmpty: Boolean): Unit =
      if (nonEmpty)
        df.select(col("vec_id"), col("embedding"),
            lit("append").as("kind"))
          .coalesce(1).write.mode("append").parquet(reqDir)
    def sendForget(ids: DataFrame, nonEmpty: Boolean): Unit =
      if (nonEmpty)
        ids.select(col("vec_id"), lit(null).cast(embT).as("embedding"),
            lit("forget").as("kind"))
          .coalesce(1).write.mode("append").parquet(reqDir)
    if (benchSized) {
      // minimal interleave that still exercises BOTH replay
      // disciplines through one checkpoint: one txn-stamped append
      // (the whole increment), one idempotent forget (the whole
      // erasure set). Every flag is tape-length-independent; the
      // 4-slice interleave stays in ScaleStress and StreamingSpec.
      sendAppend(inc, nInc > 0L)
      sendForget(base.filter(col("vec_id") % 61 === 0)
        .select("vec_id"), nDoomed > 0L)
    } else {
      val cut =
        if (nA1 > 0L) Similarity.prefixThreshold(inc, nA1) else thr
      // prefixThreshold(inc, nA1) is the nA1-th order statistic of
      // distinct ids, so the <= / > splits hold exactly nA1 / nInc-nA1
      sendAppend(inc.filter(col("vec_id") <= cut), nA1 > 0L)
      sendForget(f1, nF1 > 0L)
      sendAppend(inc.filter(col("vec_id") > cut), nInc - nA1 > 0L)
      sendForget(f2, nF2 > 0L)
    }
    val (settledVersions, resumeSafe) = drainTwice(s, root, work,
        _.schema("vec_id LONG, embedding ARRAY<FLOAT>, kind STRING")
          .parquet(reqDir)) { (b, id) =>
      // one kind per request file by construction; dispatch handles a
      // mixed batch anyway — arrivals before erasures. An empty batch
      // yields ZERO kinds right here, so the old separate isEmpty probe
      // was a redundant Spark job per micro-batch; noopOnEmpty keeps
      // even a spurious empty sub-frame commit-free
      val kinds = b.select("kind").distinct()
        .collect().map(_.getString(0)).sorted
      kinds.foreach {
        case "append" => IndexStore.append(s, root,
          b.filter(col("kind") === "append").select("vec_id", "embedding"),
          txn = Some(("graft_stream_lifecycle", id)), noopOnEmpty = true)
        case _ => IndexStore.forget(s, root,
          b.filter(col("kind") === "forget").select("vec_id"),
          noopOnEmpty = true)
      }
    }
    val live = IndexStore.open(s, root)
    val codes = IndexStore.codes(s, root, live)
    val doomedDf = f1.unionAll(f2)
    val (cents0, cb0, idx0) = Similarity.ivfPqIndex(base, cells)
    val batchForm = Similarity.ivfPqForget(
      idx0.select("nn_id", "cell", "codes")
        .unionAll(Similarity.ivfPqAppend(cents0, cb0, inc)),
      doomedDf)
    val nLive = n - nDoomed
    val queries = emb.filter(col("vec_id") < 10)
    val rr = Similarity.scaledRerank(nLive)
    val np = Similarity.scaledNprobe(nLive, live.cells, rr)
    val ann = Similarity.knnIvfPqServe(emb, codes, live.cents, live.cb,
      queries, k, np, rr)
    // the three audit reads (live fingerprint, batch-form fingerprint,
    // probe count) are independent — overlap them (guide §2.6)
    val ((fpLive, fpBatch), nAnn) = Audit.parallel(
      Audit.parallel(Audit.fingerprint(codes, Similarity.CodeCols),
        Audit.fingerprint(batchForm, Similarity.CodeCols)), ann.count())
    val contentMatch = if (fpLive == fpBatch) 1 else 0
    val conserved =
      if (fpLive._1 == nLive && live.nRows == nLive) 1 else 0
    // a surviving query can match nLive-1 others, an erased one nLive
    val kEff = Audit.kEff(k, nLive)
    val fullK = if (nAnn >= nq * kEff && nAnn <= nq * k) 1 else 0
    row(nDoomed, settledVersions.length.toLong, 1,
      (contentMatch, conserved, resumeSafe, fullK))
  }

  /** Streaming dedup against the HISTORICAL corpus — the ingest-time
    * complement of [[dedupStream]]'s in-stream suppression: newly crawled
    * documents stream in and are dropped when their content hash already
    * exists in the base snapshot. A stream-static LEFT ANTI join: the
    * static hash set re-plans per micro-batch and broadcasts (at 100 TB
    * the base side becomes a bloom filter — the contamination_bloom
    * degradation path — or a stream-static left-anti against a bucketed
    * table), the stream side never shuffles and needs NO state store at
    * all (the static side is the state). Every third doc is planted as
    * "already ingested", so survivors are exactly the other two thirds;
    * the settled result equals the batch anti join the oracle runs. */
  def streamedDedupAgainstBase(s: SparkSession, dir: String): DataFrame = {
    val base = graft.sources.Tables.documents(s, dir)
      .filter(pmod(col("doc_id"), lit(3L)) === 0)
      .select(md5(col("text")).as("content_hash"))
    val survivors = documentsStream(s, dir)
      .withColumn("content_hash", md5(col("text")))
      .join(broadcast(base), Seq("content_hash"), "left_anti")
    settle(survivors.select("doc_id", "lang"),
        "graft_stream_basededup", mode = "append")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_new_docs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("lang")
  }

  /** Streaming corpus-drift monitor — the live-ingest shape of
    * Profile.tokenDrift: the documents STREAM aggregates to a running
    * lowercase-token histogram (stateful complete-mode aggregation
    * whose state is VOCABULARY-sized per Heaps' law — bounded however
    * long the stream runs), settles, and diffs against a static
    * baseline snapshot ("yesterday's corpus": every doc_id % 10 == 0
    * absent). The settled histogram equals the batch histogram by
    * construction, so the whole view — topK by (|Δ| desc, word asc) —
    * is SQL-recomputable and driver hash-checked. The drift join and
    * top-k run BATCH-side on the settled vocab-sized table
    * (single-stateful-operator stream, the streamedDedupEvents
    * pattern); the cut is TakeOrdered over the vocab join, never a
    * corpus sort. */
  def streamedTokenDrift(s: SparkSession, dir: String,
                         topK: Int = 30): DataFrame = {
    def words(df: DataFrame) = df
      .select(explode(graft.functions.TextFunctions.tokenize(col("text")))
        .as("w"))
      .select(lower(col("w")).as("word"))
    val liveCnt = settle(
      words(documentsStream(s, dir))
        .groupBy("word").agg(count(lit(1)).as("n_after")),
      "graft_stream_drift")
    val baseCnt = words(graft.sources.Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(10L)) =!= 0))
      .groupBy("word").agg(count(lit(1)).as("n_before"))
    baseCnt.join(liveCnt, Seq("word"), "full_outer")
      .select(col("word"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
      .withColumn("delta", col("n_after") - col("n_before"))
      .orderBy(abs(col("delta")).desc, col("word").asc)
      .limit(topK)
  }

  /** Streaming MODEL SERVING — the trained quality filter applied at
    * ingest: the perceptron trains BATCH-side on the base snapshot
    * (driver-metadata weights), then scores the documents STREAM with
    * [[graft.operators.QualityClassifier.scoreDocs]]'s stateless
    * per-row token fold — the weight map rides into every micro-batch
    * plan as a literal, so serving needs no state store, no join, no
    * shuffle on the stream side. Integer margins make the settled
    * result EQUAL the batch scorer's, so the per-(lang, class) summary
    * — counts + exact margin extrema — is SQL-recomputable by the same
    * oracle that retrains the model. */
  def streamedQualityFilter(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Checkpoints, QualityClassifier}
    val w = QualityClassifier.trainPerceptron(Checkpoints.scratch(
      QualityClassifier.perceptronFeatures(
        graft.sources.Tables.documents(s, dir))))
    val scored = QualityClassifier.scoreDocs(documentsStream(s, dir), w)
    // lang re-attaches batch-side after settle (scoreDocs works on the
    // planted training schema, which drops non-text columns)
    settle(scored.select("doc_id", "pred", "margin"),
        "graft_stream_qfilter", mode = "append")
      .join(graft.sources.Tables.documents(s, dir)
        .select("doc_id", "lang"), Seq("doc_id"))
      .groupBy("lang", "pred")
      .agg(count(lit(1)).as("n_docs"),
        min(col("margin")).as("min_margin"),
        max(col("margin")).as("max_margin"))
      .orderBy("lang", "pred")
  }

  /** Streaming NEAR-DUP filter at ingest — the near-dup complement of
    * [[streamedDedupAgainstBase]]'s exact-hash tier, closing the
    * daily-crawl stack: freshly crawled documents stream in, and each
    * micro-batch drops the ones that near-duplicate the EXISTING base
    * corpus (re-crawls with a changed header, syndicated copies) before
    * they ever land.
    *
    * Shape: the base corpus's MinHash BAND INDEX (base_id, band,
    * band_key — ids and 8-byte keys only) and its signature/feature
    * table are built batch-side ONCE and broadcast; the stream side
    * computes its own signature with the native MinHashTextSignature
    * and its band keys scan-side, then candidates form through a
    * stream-static broadcast equi join on (band, band_key) — the SAME
    * banding as the batch tier ([[graft.operators.Dedup
    * .minhashLshPairsAcross]]), so the stream NEVER shuffles and needs
    * NO state store: like streamedQualityFilter, the static index IS
    * the state. Candidates pass the signature-agreement estimate and
    * then the exact bigram-Jaccard verify (the batch verifier's own
    * per-pair scoring, [[graft.operators.Dedup.scoreFeaturePairs]],
    * over the same feature arrays), all as stateless per-row math
    * against the broadcast tables. The settled match set therefore
    * EQUALS the batch [[graft.operators.Dedup.incrementalNearDup]]
    * answer on the same replay — same candidates, same estimate cut,
    * same exact J — which is what the oracle recomputes in SQL and
    * StreamingSpec cross-checks against the batch operator.
    *
    * At 100 TB the band index (ids + keys) broadcasts or bucket-joins;
    * the per-candidate verify payload (signatures + feature arrays)
    * stays candidate-bounded because it attaches AFTER the band join.
    * The final keep-first-base aggregation runs BATCH-side on the
    * settled matches (single-stateful-operator discipline — here even
    * the stream is stateless). */
  def streamedNearDupIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val base = graft.sources.Tables.documents(s, dir).select(
      Dedup.guardPlantWindow(col("doc_id")).as("doc_id"), col("text"))
    val fresh = nearDupIngestFresh(documentsStream(s, dir))
    nearDupIngestKeepFirst(
      settle(nearDupIngestMatches(base, fresh),
        "graft_stream_neardup", mode = "append"))
  }

  /** The planted re-crawl increment of [[streamedNearDupIngest]]: near
    * copies of doc_id < PlantCount under shifted ids (the dedup-family
    * convention). Factored over any documents frame — streaming in the
    * gated query, the spec's own checkpointed file stream in the
    * kill-resume proof. */
  private[graft] def nearDupIngestFresh(docs: DataFrame): DataFrame = {
    import graft.operators.Dedup
    docs.filter(col("doc_id") < Dedup.PlantCount)
      .select((col("doc_id") + Dedup.DupIdOffset).as("doc_id"),
        regexp_replace(col("text"), "^[^ ]+ ", "").as("text"))
  }

  /** Stream-side core of [[streamedNearDupIngest]]: scan-fused
    * signature/band-key/feature computation on the fresh side, then
    * the stream-static broadcast band join + estimate cut + exact
    * bigram-Jaccard verify. Stateless — the broadcast base tables ARE
    * the state — so a checkpointed restart replays only unprocessed
    * files and emitted match rows are a pure per-row function of
    * (fresh row, static base): the kill-resume proof's foundation. */
  private[graft] def nearDupIngestMatches(base: DataFrame,
                                          fresh0: DataFrame): DataFrame = {
    import graft.operators.{Checkpoints, Dedup}
    val k = Dedup.LshK
    // base model tables, built once: signatures + distinct-bigram
    // feature arrays (the verify tier's payload), and the band index
    val baseSigs = Checkpoints.scratch(
      base.select(col("doc_id").as("base_id"),
        Dedup.minhashSignature(col("text"), k).as("sig_b"),
        Dedup.bigramFeatures(col("text")).as("fb")))
    val baseBandIdx = Dedup.withBandKeys(
        baseSigs.select("base_id", "sig_b"), "sig_b", k, Dedup.LshBands)
      .select("base_id", "band", "band_key")
    // signature, band keys and features are scan-fused on the fresh side
    val fresh = Dedup.withBandKeys(fresh0
        .withColumn("sig", Dedup.minhashSignature(col("text"), k))
        .withColumn("fa", Dedup.bigramFeatures(col("text"))),
      "sig", k, Dedup.LshBands)
    val cand = fresh
      .join(broadcast(baseBandIdx), Seq("band", "band_key"))
      .join(broadcast(baseSigs), Seq("base_id"))
      .filter(Dedup.minhashEstimate(col("sig"), col("sig_b"), k) >=
        Dedup.LshEstTau)
      .select(col("doc_id").as("id_a"), col("base_id").as("id_b"),
        col("fa"), col("fb"))
    Dedup.scoreFeaturePairs(cand, Dedup.Jaccard, Dedup.IncrementalTau)
      .select(col("id_a").as("doc_id"), col("id_b").as("base_id"),
        col("jaccard"))
  }

  /** Batch-side settle aggregation of [[streamedNearDupIngest]]: keep
    * each dropped doc's FIRST base match — the incrementalNearDup
    * contract (multi-band hits of the same pair are value-identical
    * rows; rn = 1 picks one deterministically). Idempotent over
    * duplicated match rows, so a replayed-then-overwritten micro-batch
    * in an idempotent file sink cannot change the settled answer. */
  private[graft] def nearDupIngestKeepFirst(matches: DataFrame)
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("base_id")
    matches
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("base_id").as("dup_of"), col("jaccard"))
  }

  /** Driver-gated in-stream dedup: replay the events table through TWO
    * identical file-stream legs — every event arrives exactly twice —
    * and suppress the duplicates with [[dedupStream]]'s watermark-bounded
    * state. The settled row set is exactly the distinct events, so the
    * per-type counts the query returns equal a plain batch count —
    * which is what the oracle recomputes. Dedup emits in append mode
    * (it's a stateful filter, not an aggregation); the final count runs
    * BATCH-side on the settled table, keeping the stream single-stateful-
    * operator. At scale the state is O(events per watermark horizon),
    * not O(stream history). */
  def streamedDedupEvents(s: SparkSession, dir: String): DataFrame = {
    val doubled = eventsStream(s, dir).unionAll(eventsStream(s, dir))
      .withColumn("ekey", col("event_id").cast("string"))
    val deduped = dedupStream(doubled, "ekey", "ts", "1 hour")
    settle(deduped.select("event_type", "event_id"),
        "graft_stream_dedup", mode = "append")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  case class TransEvent(user_id: Long, ts_us: Long, event_id: Long,
                        event_type: String)
  case class LastEvent(ts_us: Long, event_id: Long, event_type: String)
  case class Transition(src: String, dst: String)

  /** Streaming first-order transition counts: per-user ORDERED state via
    * flatMapGroupsWithState — the state is just the last-seen event, so
    * the store is O(|active users|) regardless of stream length. Each
    * micro-batch sorts its per-user slice by (event-time micros,
    * event_id) — the SAME total order as the batch operator
    * (EventAnalytics.eventTransitions), micros not millis so no two
    * distinct instants collapse — and chains it onto the carried last
    * event, emitting one (src → dst) row per consecutive pair. Settled
    * over AvailableNow replay, the pair multiset equals the batch
    * window's exactly, which is what the oracle recomputes; the count
    * aggregate runs BATCH-side on the settled table (single-stateful-
    * operator stream, same pattern as streamedDedupEvents). Ordering
    * caveat shared with sessionize: batches must not split a user's
    * timeline out of order — AvailableNow over the static table replays
    * in one batch; a live deployment keys ingestion time. */
  /** The stateful core, exposed for MemoryStream-driven specs: emits
    * one (src → dst) row per consecutive per-user pair, carrying the
    * last-seen event across micro-batches. */
  def transitionPairs(ev: org.apache.spark.sql.Dataset[TransEvent])
      : org.apache.spark.sql.Dataset[Transition] = {
    import org.apache.spark.sql.{Encoder, Encoders}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val stEnc: Encoder[LastEvent] = Encoders.product[LastEvent]
    implicit val trEnc: Encoder[Transition] = Encoders.product[Transition]
    ev.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[LastEvent, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, batch: Iterator[TransEvent],
         state: GroupState[LastEvent]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts_us, e.event_id))
          val out = Seq.newBuilder[Transition]
          var last = state.getOption
          sorted.foreach { e =>
            last.foreach(l => out += Transition(l.event_type, e.event_type))
            last = Some(LastEvent(e.ts_us, e.event_id, e.event_type))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  def streamedTransitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val evEnc: Encoder[TransEvent] = Encoders.product[TransEvent]
    val ev = eventsStream(s, dir)
      .select(col("user_id"), expr("unix_micros(ts)").as("ts_us"),
        col("event_id"), col("event_type"))
      .as[TransEvent]
    settle(transitionPairs(ev).toDF(), "graft_stream_transitions",
        mode = "append")
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("src", "dst")
  }
}
