package graft

import graft.streaming.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("streamed quality filter equals the batch scorer exactly") {
    import spark.implicits._
    import graft.operators.QualityClassifier
    import graft.sources.Tables
    val dir = "/root/testdata/sf0.001"
    val streamed = Streaming.streamedQualityFilter(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    // batch recompute through the OTHER scoring shape (per-doc feature
    // map fold) — integer margins mean the two must agree exactly
    val expected = QualityClassifier.qualityPerceptron(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "lang"),
        Seq("doc_id"))
      .groupBy("lang", "pred")
      .agg(count(lit(1)).as("n_docs"),
        min(col("margin")).as("min_margin"),
        max(col("margin")).as("max_margin"))
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(streamed === expected)
    // both classes actually flow through the stream
    assert(streamed.map(_._2) === Set(1L, -1L))
  }

  test("request slices list in slice order past 10 slices") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_slices_")
      .resolve("req").toString
    val slices = 12L
    Streaming.writeSlices((0L until slices).toDF("vec_id"), col("vec_id"),
      slices, dir)
    // lexical directory order (what an object-store or HDFS listing
    // returns) must be slice order: each dir holds exactly its slice
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("__slice=")).map(_.getName).sorted
    assert(dirs.length === slices)
    val ids = dirs.map(d => spark.read.parquet(s"$dir/$d")
      .as[Long].collect().toSeq)
    assert(ids.toSeq === (0L until slices).map(Seq(_)))
  }

  test("streaming word count updates incrementally over micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[String]
    val q = Streaming.wordCountStream(source.toDF().toDF("text"), "text",
        caseSensitive = false)
      .writeStream.format("memory").queryName("wc_stream")
      .outputMode("complete").start()
    try {
      source.addData("Hello world", "hello World")
      q.processAllAvailable()
      val afterBatch1 = spark.table("wc_stream")
        .as[(String, Long)].collect().toMap
      assert(afterBatch1 === Map("hello" -> 2L, "world" -> 2L))

      source.addData("world again")
      q.processAllAvailable()
      val afterBatch2 = spark.table("wc_stream")
        .as[(String, Long)].collect().toMap
      assert(afterBatch2 === Map("hello" -> 2L, "world" -> 3L, "again" -> 1L))
    } finally q.stop()
  }

  test("stream-static anti join drops base docs across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Seq("seen one", "seen two").toDF("text")
      .select(md5(col("text")).as("content_hash"))
    val source = MemoryStream[(Long, String)]
    val q = source.toDF().toDF("doc_id", "text")
      .withColumn("content_hash", md5(col("text")))
      .join(broadcast(base), Seq("content_hash"), "left_anti")
      .select("doc_id")
      .writeStream.format("memory").queryName("base_dedup")
      .outputMode("append").start()
    try {
      source.addData((1L, "seen one"), (2L, "fresh a"))
      q.processAllAvailable()
      assert(spark.table("base_dedup").as[Long].collect().toSet === Set(2L))
      // the static side keeps filtering later micro-batches too
      source.addData((3L, "seen two"), (4L, "fresh b"))
      q.processAllAvailable()
      assert(spark.table("base_dedup").as[Long].collect().toSet ===
        Set(2L, 4L))
    } finally q.stop()
  }

  test("sliding windows place each event in windowLen/slide windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = Streaming.eventsSliding(
        source.toDF().toDF("ts", "event_type", "value"),
        "1 hour", "15 minutes", "2 hours")
      .select(col("window.start"), col("n"))
      .writeStream.format("memory").queryName("slide_stream")
      .outputMode("complete").start()
    try {
      source.addData((java.sql.Timestamp.valueOf("2024-01-01 10:07:00"),
        "click", 1.0))
      q.processAllAvailable()
      // one event, 1h window sliding by 15m → exactly 4 windows hold it
      assert(spark.table("slide_stream").count() === 4)
      assert(spark.table("slide_stream").agg(sum("n"))
        .collect()(0).getLong(0) === 4L)
    } finally q.stop()
  }

  test("streaming dedup suppresses in-window duplicate content") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[(Long, String, java.sql.Timestamp)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val q = Streaming.dedupStream(
        source.toDF().toDF("id", "text", "ts"), "text", "ts", "1 hour")
      .select("id")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      source.addData(
        (1L, "alpha", ts("2024-01-01 10:00:00")),
        (2L, "beta",  ts("2024-01-01 10:01:00")),
        (3L, "alpha", ts("2024-01-01 10:02:00"))) // dup of id 1
      q.processAllAvailable()
      source.addData(
        (4L, "alpha", ts("2024-01-01 10:03:00")), // dup across batches
        (5L, "gamma", ts("2024-01-01 10:04:00")))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").as[Long].collect().toSet
      assert(ids === Set(1L, 2L, 5L))
    } finally q.stop()
  }

  test("foreachBatch incremental parquet sink accumulates the full stream") {
    val dir = "/root/testdata/sf0.001"
    val out = java.nio.file.Files
      .createTempDirectory("graft-febatch").toString
    val q = Streaming.eventsStream(spark, dir)
      .select("event_id", "event_type")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("append").parquet(s"$out/events")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val written = spark.read.parquet(s"$out/events")
    val batchSide = graft.sources.Tables.events(spark, dir)
    assert(written.count() === batchSide.count())
    assert(written.select(sum("event_id")).collect()(0).getLong(0) ===
      batchSide.select(sum("event_id")).collect()(0).getLong(0))
  }

  test("streamed double-replay dedup settles to the batch counts") {
    val dir = "/root/testdata/sf0.001"
    val streamed = Streaming.streamedDedupEvents(spark, dir)
      .collect().map(_.toSeq).toSeq
    val batch = graft.sources.Tables.events(spark, dir)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type").collect().map(_.toSeq).toSeq
    assert(streamed === batch)
  }

  test("streamed token drift settles to the batch drift view") {
    val dir = "/root/testdata/sf0.001"
    val streamed = Streaming.streamedTokenDrift(spark, dir, 30)
      .collect().map(_.toSeq).toSeq
    // batch recompute with the identical before/after convention
    val docs = graft.sources.Tables.documents(spark, dir)
    val batch = graft.operators.Profile.tokenDrift(
        docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0), docs, 30)
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
  }

  test("streamed hourly agg settles to the batch result") {
    val dir = "/root/testdata/sf0.001"
    val streamed = Streaming.streamedEventsHourly(spark, dir)
      .orderBy("hour", "event_type").collect().map(_.toSeq).toSeq
    val batch = graft.operators.Relational.eventsHourly(spark, dir)
      .orderBy("hour", "event_type").collect().map(_.toSeq).toSeq
    assert(streamed === batch)
  }

  test("stream-stream join settles to the batch self-join") {
    val dir = "/root/testdata/sf0.001"
    val streamed = Streaming.streamedConversions(spark, dir)
      .orderBy("click_id", "purchase_id").collect().map(_.toSeq).toSeq
    val ev = graft.sources.Tables.events(spark, dir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"),
        col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("pts"), col("value"))
    val batch = c.join(p,
        col("cu") === col("user_id") &&
        col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        (unix_timestamp(col("pts")) - unix_timestamp(col("cts")))
          .as("delay_s"),
        round(col("value"), 6).as("value"))
      .orderBy("click_id", "purchase_id")
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("streamed near-dup ingest equals the batch incremental filter") {
    import spark.implicits._
    import graft.operators.Dedup
    import graft.sources.Tables
    val dir = "/root/testdata/sf0.001"
    val streamed = Streaming.streamedNearDupIngest(spark, dir)
      .as[(Long, Long, Double)].collect().toSet
    // the batch operator on the same planted replay — same candidates
    // (identical banding), same estimate cut, same exact-J verify, so
    // the settled stream must match row for row
    val docs = Tables.documents(spark, dir).select(
      Dedup.guardPlantWindow(col("doc_id")).as("doc_id"), col("text"))
    val fresh = docs.filter(col("doc_id") < Dedup.PlantCount)
      .select((col("doc_id") + Dedup.DupIdOffset).as("doc_id"),
        regexp_replace(col("text"), "^[^ ]+ ", "").as("text"))
    val batch = Dedup.incrementalNearDup(docs, fresh)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed === batch)
    // the plant guarantees matches exist — an empty match set would
    // pass set-equality vacuously
    assert(streamed.nonEmpty)
    // the scaladoc's statelessness claim, pinned against the run's own
    // progress: the broadcast base index IS the state, so the stream
    // must report ZERO stateful operators (a dropDuplicates or
    // stream-side aggregation sneaking in would show up here)
    val prog = Streaming.lastSettleProgress
    assert(prog.isDefined, "settle recorded no progress")
    assert(prog.get.stateOperators.isEmpty,
      s"ingest stream grew state operators: ${prog.get.stateOperators.toSeq}")
  }

  test("near-dup ingest resumes from its checkpoint after a kill and settles to batch") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.Dedup
    import graft.sources.Tables
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select(
      Dedup.guardPlantWindow(col("doc_id")).as("doc_id"), col("text"))
    val total = docs.count()
    val tmp = java.nio.file.Files.createTempDirectory("graft-nd-ckpt").toString
    val (in, out, ckpt) = (s"$tmp/in", s"$tmp/out", s"$tmp/ckpt")
    // 32 single-file micro-batches so the kill lands mid-corpus
    docs.repartition(32).write.parquet(in)
    val schema = spark.read.parquet(in).schema
    def matches() = Streaming.nearDupIngestMatches(docs,
      Streaming.nearDupIngestFresh(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(in)))
    def sink(df: org.apache.spark.sql.DataFrame) = df.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        // batch-id-keyed overwrite: a batch replayed after the kill
        // rewrites ITS OWN directory — the idempotent-sink pattern for
        // append streams
        b.write.mode("overwrite").parquet(s"$out/b$id")
      }
    val q1 = sink(matches()).start()
    // wait for >= 3 committed micro-batches, then kill mid-corpus
    val deadline = System.currentTimeMillis() + 120000
    while (q1.recentProgress.count(_.numInputRows > 0) < 3 &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    val run1Batches = q1.recentProgress.count(_.numInputRows > 0)
    q1.stop()
    q1.awaitTermination()
    assert(run1Batches >= 3, s"only $run1Batches batches before the kill")
    // restart from the same checkpoint; drain what's left, then stop
    val q2 = sink(matches()).trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val replayed = q2.recentProgress.map(_.numInputRows).sum
    // the restart RESUMED from the checkpoint instead of replaying the
    // corpus: it saw strictly fewer input rows than a cold start would
    assert(replayed < total, s"restart reprocessed all $total rows")
    // settle batch-side over every written micro-batch dir and compare
    // to the batch incremental filter — the same answer the unkilled
    // gated query settles to
    val settled = Streaming.nearDupIngestKeepFirst(
        spark.read.parquet(s"$out/b*"))
      .as[(Long, Long, Double)].collect().toSet
    val batch = Dedup.incrementalNearDup(docs,
        Streaming.nearDupIngestFresh(docs))
      .as[(Long, Long, Double)].collect().toSet
    assert(settled === batch)
    assert(settled.nonEmpty)
  }

  test("streamed erasure survives a kill: resume settles to the batch forget") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.Similarity
    import graft.sources.{IndexStore, Tables}
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-sforget-ckpt").toString
    val (root, reqDir, ckpt) = (s"$tmp/store", s"$tmp/req", s"$tmp/ckpt")
    IndexStore.build(spark, root, emb)
    // one request file PER doomed id → one forget commit per batch,
    // so the kill lands between manifest commits
    val doomed = emb.filter(col("vec_id") % 97 === 0)
      .select("vec_id").as[Long].collect().sorted
    assert(doomed.length >= 3)
    doomed.foreach { id =>
      Seq(id).toDF("vec_id").coalesce(1).write.mode("append")
        .parquet(reqDir)
    }
    // side counter of PROCESSED batches per run: the numInputRows
    // metric double-counts here (foreachBatch re-scans its source —
    // isEmpty plus forget's own reads), so it can't prove resumption
    val processed = new java.util.concurrent.atomic.AtomicInteger(0)
    def sink() = spark.readStream.schema("vec_id LONG")
      .option("maxFilesPerTrigger", 1).parquet(reqDir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!b.isEmpty) {
          IndexStore.forget(spark, root, b)
          processed.incrementAndGet()
          ()
        }
      }
    val q1 = sink().start()
    val deadline = System.currentTimeMillis() + 120000
    while (processed.get() < 2 &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    q1.stop()
    q1.awaitTermination()
    val run1 = processed.get()
    assert(run1 >= 2, s"only $run1 batches before the kill")
    // resume from the checkpoint and drain what's left
    processed.set(0)
    val q2 = sink().trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    // at most one in-flight batch replays (its offset was written but
    // not committed at the kill); a cold restart would redo all of them
    assert(processed.get() <= doomed.length - run1 + 1,
      s"restart reprocessed ${processed.get()} of ${doomed.length}")
    // the settled live snapshot equals the BATCH forget of the same
    // ids: zero doomed rows, exact survivor count, content equal to
    // the anti-joined in-memory index under the same frozen models
    def fp(df: org.apache.spark.sql.DataFrame) =
      graft.gates.Audit.fingerprint(df, graft.operators.Similarity.CodeCols)
    val live = IndexStore.open(spark, root)
    val codes = IndexStore.codes(spark, root, live)
    assert(codes.filter(col("nn_id") % 97 === 0).count() === 0L)
    val (_, _, memIdx) =
      Similarity.ivfPqIndex(emb, Similarity.scaledCells(n))
    val batchForget = Similarity.ivfPqForget(memIdx,
      doomed.toSeq.toDF("vec_id"))
    assert(fp(codes) === fp(batchForget))
    assert(live.nRows === n - doomed.length)
  }

  test("streamed append survives a kill without duplicating: txn watermark") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.Similarity
    import graft.sources.{IndexStore, Tables}
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val nBase = n - n / 8
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-sappend-ckpt").toString
    val (root, reqDir, ckpt) = (s"$tmp/store", s"$tmp/req", s"$tmp/ckpt")
    val thr = Similarity.prefixThreshold(emb, nBase)
    val base = emb.filter(col("vec_id") <= thr)
    val inc = emb.filter(col("vec_id") > thr)
    IndexStore.build(spark, root, base)
    // ~6 single-slice arrival files → one append commit per batch
    val nInc = inc.count()
    val cuts = (1L until 6L).map(i =>
      Similarity.prefixThreshold(inc, i * nInc / 6))
    (Seq(thr) ++ cuts :+ Long.MaxValue).sliding(2).foreach { b =>
      inc.filter(col("vec_id") > b.head && col("vec_id") <= b(1))
        .coalesce(1).write.mode("append").parquet(reqDir)
    }
    val processed = new java.util.concurrent.atomic.AtomicInteger(0)
    def sink() = spark.readStream
      .schema(spark.read.parquet(s"$dir/embeddings.parquet").schema)
      .option("maxFilesPerTrigger", 1).parquet(reqDir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!b.isEmpty) {
          IndexStore.append(spark, root, b,
            txn = Some(("graft_stream_append", id)))
          processed.incrementAndGet()
          ()
        }
      }
    val q1 = sink().start()
    val deadline = System.currentTimeMillis() + 120000
    while (processed.get() < 2 &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    q1.stop()
    q1.awaitTermination()
    assert(processed.get() >= 2)
    val q2 = sink().trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    // settled: exactly the corpus, NO duplicate from any replayed batch
    val live = IndexStore.open(spark, root)
    val codes = IndexStore.codes(spark, root, live)
    assert(codes.count() === n)
    assert(live.nRows === n)
    assert(codes.select("nn_id").distinct().count() === n)
    // the committed-but-unacknowledged window, forced directly: replay
    // an ALREADY-COMMITTED txn version — the append must be a no-op
    // (an unstamped sink double-ingests exactly here)
    val lastTxn = IndexStore
      .lastTxnVersion(spark, root, "graft_stream_append").get
    val before = live.version
    val replayed = IndexStore.append(spark, root, inc.limit(5),
      txn = Some(("graft_stream_append", lastTxn)))
    assert(replayed.version === before)
    assert(IndexStore.codes(spark, root,
      IndexStore.open(spark, root)).count() === n)
    // and a FRESH txn version does append
    val v2 = IndexStore.append(spark, root,
      emb.filter(col("vec_id") === thr).select("vec_id", "embedding")
        .withColumn("vec_id", col("vec_id") + 10000000L),
      txn = Some(("graft_stream_append", lastTxn + 1)))
    assert(v2.version === before + 1)
    assert(v2.nRows === n + 1)
  }

  test("mixed lifecycle stream survives a kill mid-interleave") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.Similarity
    import graft.sources.{IndexStore, Tables}
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val nBase = n - n / 4
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-slife-ckpt").toString
    val (root, reqDir, ckpt) = (s"$tmp/store", s"$tmp/req", s"$tmp/ckpt")
    val thr = Similarity.prefixThreshold(emb, nBase)
    val base = emb.filter(col("vec_id") <= thr)
    val inc = emb.filter(col("vec_id") > thr)
    IndexStore.build(spark, root, base)
    // the tape, STRICTLY ORDERED by request-file mtime (each write is
    // its own job, ms apart): append A1 → per-id base erasures →
    // append A2 → erase IDS THAT ARRIVED IN A1 — the ordering hazard
    // a mixed stream must get right (a forget racing ahead of its
    // arrival would no-op and leave the row alive forever)
    val nInc = inc.count()
    val cut = Similarity.prefixThreshold(inc, nInc / 2)
    val a1Ids = inc.filter(col("vec_id") <= cut)
      .select("vec_id").as[Long].collect().sorted
    val f1Ids = base.filter(col("vec_id") % 97 === 0)
      .select("vec_id").as[Long].collect().sorted
    val f2Ids = a1Ids.zipWithIndex.collect {
      case (id, i) if i % 3 == 0 => id }
    assert(a1Ids.length >= 3 && f1Ids.length >= 2 && f2Ids.length >= 1)
    val embT = emb.schema("embedding").dataType
    // FileStreamSource orders new files by modification time; on a
    // coarse-mtime filesystem two sends in the same tick could tie and
    // reorder batches, flaking the ordering-hazard assertions below —
    // so each send FORCES a strictly increasing mtime on its new files
    val stamped = scala.collection.mutable.Set[String]()
    val tapeClock = new java.util.concurrent.atomic.AtomicLong(
      System.currentTimeMillis())
    def stampTape(): Unit = {
      val parts = Option(new java.io.File(reqDir).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .sortBy(_.getName)
      parts.filterNot(f => stamped(f.getName)).foreach { f =>
        assert(f.setLastModified(tapeClock.addAndGet(2000L)))
        stamped += f.getName
      }
    }
    def sendAppend(df: org.apache.spark.sql.DataFrame): Unit = {
      df.select(col("vec_id"), col("embedding"),
          lit("append").as("kind"))
        .coalesce(1).write.mode("append").parquet(reqDir)
      stampTape()
    }
    def sendForget(ids: Seq[Long]): Unit = {
      ids.toDF("vec_id")
        .select(col("vec_id"), lit(null).cast(embT).as("embedding"),
          lit("forget").as("kind"))
        .coalesce(1).write.mode("append").parquet(reqDir)
      stampTape()
    }
    sendAppend(inc.filter(col("vec_id") <= cut))
    f1Ids.foreach(id => sendForget(Seq(id)))    // one file per id
    sendAppend(inc.filter(col("vec_id") > cut))
    sendForget(f2Ids.toSeq)
    val nFiles = 2 + f1Ids.length + 1
    val processed = new java.util.concurrent.atomic.AtomicInteger(0)
    def sink() = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>, kind STRING")
      .option("maxFilesPerTrigger", 1).parquet(reqDir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!b.isEmpty) {
          b.select("kind").distinct()
            .collect().map(_.getString(0)).sorted.foreach {
              case "append" => IndexStore.append(spark, root,
                b.filter(col("kind") === "append")
                  .select("vec_id", "embedding"),
                txn = Some(("graft_stream_lifecycle", id)))
              case _ => IndexStore.forget(spark, root,
                b.filter(col("kind") === "forget").select("vec_id"))
            }
          processed.incrementAndGet()
          ()
        }
      }
    val q1 = sink().start()
    val deadline = System.currentTimeMillis() + 120000
    while (processed.get() < 2 &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    q1.stop()
    q1.awaitTermination()
    val run1 = processed.get()
    assert(run1 >= 2, s"only $run1 batches before the kill")
    // resume from the checkpoint: at most the one committed-but-
    // unacknowledged batch replays (append replays are txn-skipped,
    // forget replays idempotent — either way content converges)
    processed.set(0)
    val q2 = sink().trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(processed.get() <= nFiles - run1 + 1,
      s"restart reprocessed ${processed.get()} of $nFiles")
    // settled content == the BATCH sequence: index(base) ∪
    // append(inc) under the same frozen models, minus both erasure
    // sets — including the A1-sourced ids erased AFTER they arrived
    def fp(df: org.apache.spark.sql.DataFrame) =
      graft.gates.Audit.fingerprint(df, graft.operators.Similarity.CodeCols)
    val live = IndexStore.open(spark, root)
    val codes = IndexStore.codes(spark, root, live)
    val doomed = (f1Ids ++ f2Ids).toSeq.toDF("vec_id")
    val (cents0, cb0, idx0) =
      Similarity.ivfPqIndex(base, Similarity.scaledCells(nBase))
    val batchForm = Similarity.ivfPqForget(
      idx0.select("nn_id", "cell", "codes")
        .unionAll(Similarity.ivfPqAppend(cents0, cb0, inc)), doomed)
    assert(fp(codes) === fp(batchForm))
    val nLive = n - f1Ids.length - f2Ids.length
    assert(live.nRows === nLive)
    assert(codes.count() === nLive)
    // the hazard case explicitly: every erased STREAMED ARRIVAL is
    // gone, every surviving A1 arrival is present exactly once
    assert(codes.join(f2Ids.toSeq.toDF("nn_id"), Seq("nn_id"),
      "left_semi").count() === 0L)
    val a1Live = a1Ids.toSeq.toDF("nn_id")
      .join(codes, Seq("nn_id"), "left_semi").count()
    assert(a1Live === a1Ids.length - f2Ids.length)
  }

  test("streamed sessions: settled = exactly the watermark-closed batch sessions") {
    import graft.operators.EventAnalytics
    import graft.sources.Tables
    val dir = "/root/testdata/sf0.001"
    val st = Streaming.streamedSessions(spark, dir).collect().toSet
    val batch = EventAnalytics.sessionize(Tables.events(spark, dir))
      .collect().toSet
    // closed sessions are a strict subset here (the stream head leaves
    // each user's last burst open)...
    assert(st.subsetOf(batch), "streamed sessions diverge from batch")
    assert(st.size < batch.size, "no session stayed open at stream end")
    // ...and the cut is exact: end (last event + gap) <= global max ts
    val ev = Tables.events(spark, dir)
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
    val expectClosed = ev
      .groupBy(col("user_id"),
        session_window(col("ts"), EventAnalytics.SessionGap))
      .agg(max("ts").as("last_ts"))
      .filter(col("last_ts") + expr("INTERVAL 2 HOUR") <= lit(maxTs))
      .count()
    assert(st.size.toLong === expectClosed)
    // session windows are stateful — the settle run must report state
    val prog = Streaming.lastSettleProgress
    assert(prog.isDefined && prog.get.stateOperators.nonEmpty,
      "session aggregation reported no state operator")
  }

  test("session state survives a kill: restart resumes open sessions from the store") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.EventAnalytics
    import graft.sources.Tables
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
    val total = ev.count()
    val tmp = java.nio.file.Files.createTempDirectory("graft-sess-ckpt")
      .toString
    val (in, out, ckpt) = (s"$tmp/in", s"$tmp/out", s"$tmp/ckpt")
    // 32 single-file micro-batches RANGE-ORDERED BY EVENT TIME: with
    // delay-0 watermarking, an out-of-order file would make everything
    // behind it late-and-dropped — range partitioning guarantees batch
    // N's minimum ts >= batch N-1's maximum, so nothing is ever late.
    // FileStreamSource orders by MODIFICATION time, and parallel part
    // writes tie at ms granularity (first run of this test: the
    // earliest file replayed late and its whole day was watermark-
    // dropped) — stamp strictly increasing mtimes in part order, which
    // is range order by construction
    ev.repartitionByRange(32, col("ts")).write.parquet(in)
    val parts = new java.io.File(in).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(f.lastModified() - (parts.length - i) * 2000L)
    }
    val schema = spark.read.parquet(in).schema
    def sessions() = EventAnalytics.sessionize(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
        .withWatermark("ts", "0 seconds"))
    def sink(df: org.apache.spark.sql.DataFrame) = df.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.write.mode("overwrite").parquet(s"$out/b$id")
      }
    val q1 = sink(sessions()).start()
    val deadline = System.currentTimeMillis() + 120000
    while (q1.recentProgress.count(_.numInputRows > 0) < 3 &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    val run1Batches = q1.recentProgress.count(_.numInputRows > 0)
    q1.stop()
    q1.awaitTermination()
    assert(run1Batches >= 3, s"only $run1Batches batches before the kill")
    // restart from the checkpoint: sessions left OPEN at the kill must
    // come back from the state store and close correctly as the
    // remaining files replay
    val q2 = sink(sessions()).trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val replayed = q2.recentProgress.map(_.numInputRows).sum
    assert(replayed < total, s"restart reprocessed all $total rows")
    val settled = spark.read.parquet(s"$out/b*")
      .as[(Long, String, Long, Double, Long)].collect().toSeq
    // no session emitted twice across the kill (append-mode finalize
    // is checkpointed with the state)
    assert(settled.size === settled.toSet.size, "duplicate session emission")
    // row-identical to the unkilled gated query's settled answer
    val unkilled = Streaming.streamedSessions(spark, dir)
      .as[(Long, String, Long, Double, Long)].collect().toSet
    assert(settled.toSet === unkilled)
  }

  test("streamed ivfpq ingest settles to the batch append, stateless") {
    val dir = "/root/testdata/sf0.001"
    val row = Streaming.streamedIvfPqIngest(spark, dir).head()
    // the gated query pins settled-equals-batch internally: both flags
    // must hold, and the stream saw the whole replay
    assert(row.getAs[Long]("n_emb") > 0)
    assert(row.getAs[Long]("n_stream") === row.getAs[Long]("n_emb"))
    assert(row.getAs[Int]("count_ok") === 1)
    assert(row.getAs[Int]("rows_ok") === 1)
    // the scaladoc's statelessness claim, pinned against the run's own
    // progress: the frozen models are literals in the expression tree,
    // so the stream must report ZERO stateful operators
    val prog = Streaming.lastSettleProgress
    assert(prog.isDefined, "settle recorded no progress")
    assert(prog.get.stateOperators.isEmpty,
      s"ingest stream grew state operators: ${prog.get.stateOperators.toSeq}")
  }

  test("ivfpq ingest resumes from its checkpoint after a kill and settles to batch") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.Similarity
    import graft.sources.Tables
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val total = emb.count()
    // freeze the models batch-side once, exactly like the gated query
    val base = emb.filter(col("vec_id") >= 50)
    val (cents, cb, _) =
      Similarity.ivfPqIndex(base, Similarity.scaledCells(base.count()))
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivfpq-ckpt")
      .toString
    val (in, out, ckpt) = (s"$tmp/in", s"$tmp/out", s"$tmp/ckpt")
    // 32 single-file micro-batches so the kill lands mid-corpus
    emb.repartition(32).write.parquet(in)
    val schema = spark.read.parquet(in).schema
    def encoded() = Similarity.ivfPqAppend(cents, cb,
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in))
    def sink(df: org.apache.spark.sql.DataFrame) = df.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        // batch-id-keyed overwrite: a batch replayed after the kill
        // rewrites ITS OWN directory (idempotent-sink pattern)
        b.write.mode("overwrite").parquet(s"$out/b$id")
      }
    val q1 = sink(encoded()).start()
    val deadline = System.currentTimeMillis() + 120000
    while (q1.recentProgress.count(_.numInputRows > 0) < 3 &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    val run1Batches = q1.recentProgress.count(_.numInputRows > 0)
    q1.stop()
    q1.awaitTermination()
    assert(run1Batches >= 3, s"only $run1Batches batches before the kill")
    // restart from the same checkpoint; drain what's left, then stop
    val q2 = sink(encoded()).trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val replayed = q2.recentProgress.map(_.numInputRows).sum
    assert(replayed < total, s"restart reprocessed all $total rows")
    // settle over every written micro-batch dir: row-identical (cell
    // AND codes) to the batch append of the whole corpus under the
    // same frozen models — what the unkilled gated query settles to
    val settled = spark.read.parquet(s"$out/b*")
      .as[(Long, Int, Seq[Int])].collect().toSet
    val batch = Similarity.ivfPqAppend(cents, cb, emb)
      .as[(Long, Int, Seq[Int])].collect().toSet
    assert(settled === batch)
    assert(settled.size.toLong === total)
  }

  test("checkpointed file stream resumes after a kill and settles to batch") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val dir = "/root/testdata/sf0.001"
    val events = graft.sources.Tables.events(spark, dir)
    val total = events.count()
    val tmp = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val (in, out, ckpt) = (s"$tmp/in", s"$tmp/out", s"$tmp/ckpt")
    // 32 single-file micro-batches so the kill lands mid-corpus
    events.repartition(32).write.parquet(in)
    val schema = spark.read.parquet(in).schema
    def agg() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    def sink(df: org.apache.spark.sql.DataFrame) = df.writeStream
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        // complete-mode snapshot, overwritten per batch — idempotent, so
        // a batch replayed after the kill cannot corrupt the sink
        b.write.mode("overwrite").parquet(out)
      }
    val q1 = sink(agg()).start()
    // wait for >= 3 committed micro-batches, then kill mid-corpus
    val deadline = System.currentTimeMillis() + 120000
    while (q1.recentProgress.count(_.numInputRows > 0) < 3 &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    val run1Batches = q1.recentProgress.count(_.numInputRows > 0)
    q1.stop()
    q1.awaitTermination()
    assert(run1Batches >= 3, s"only $run1Batches batches before the kill")
    // restart from the same checkpoint; drain what's left, then stop
    val q2 = sink(agg()).trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val replayed = q2.recentProgress.map(_.numInputRows).sum
    // the restart resumed from the checkpoint instead of replaying the
    // corpus: it saw strictly fewer rows than a cold start would
    assert(replayed < total, s"restart reprocessed all $total rows")
    val got = spark.read.parquet(out)
      .as[(String, Long)].collect().toMap
    val want = events.groupBy("event_type").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(got === want)
  }

  test("stream-static join settles to the batch join result") {
    val dir = "/root/testdata/sf0.001"
    val streamed = Streaming.streamedSegmentRevenue(spark, dir)
      .collect().map(_.toSeq).toSeq
    val batch = graft.sources.Tables.events(spark, dir)
      .join(graft.sources.Tables.customer(spark, dir),
        col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
      .orderBy("c_mktsegment")
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
  }
}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("feature extraction is deterministic, batch-shaped, right-sized") {
    import graft.multimodal.Multimodal
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val media = Multimodal.mediaFromDocuments(docs)
    val f1 = Multimodal.extractFeatures(media, batchSize = 7)
    val f2 = Multimodal.extractFeatures(media, batchSize = 64)
    assert(f1.count() === 500)
    // batch size must not affect results (pure per-row decode)
    assert(f1.orderBy("doc_id").collect().map(_.toSeq.take(3)).toSeq ===
           f2.orderBy("doc_id").collect().map(_.toSeq.take(3)).toSeq)
    val row = f1.filter(col("doc_id") === 0).collect()(0)
    assert(row.getAs[Seq[Float]]("features").length === Multimodal.FeatureDim)
    assert(row.getAs[Int]("n_bytes") > 0)
  }

  test("resize rewrites image rows only, with exact byte contract") {
    import graft.multimodal.Multimodal
    import org.apache.spark.sql.functions.length
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val resized = Multimodal.resizeImages(
      Multimodal.mediaFromDocuments(docs), 16, 16)
    val images = resized.filter(col("modality") === "image")
    // 13-byte PGM header ("P5\n16 16\n255\n") + 16×16 raster
    assert(images.filter(length(col("content")) =!= (13 + 256) ||
      col("width") =!= 16 || col("height") =!= 16).count() === 0)
    // audio passes through untouched; video resizes frame by frame
    val audio = resized.filter(col("modality") === "audio")
    assert(audio.filter(col("width") =!= 64).count() === 0)
    val videos = resized.filter(col("modality") === "video")
    assert(videos.filter(col("width") =!= 16 ||
      col("height") =!= 16).count() === 0)
    // every resized frame is a 269-byte 16x16 PGM, stream = k frames
    assert(videos.filter(length(col("content")) % 269 =!= 0).count() === 0)
  }

  test("PGM codec round-trips; resize is exact nearest-neighbor") {
    import graft.multimodal.Multimodal
    import graft.multimodal.Multimodal.Pgm
    import spark.implicits._
    val px = Array.tabulate(16)(i => i.toByte) // 4×4 ramp
    val (w, h, back) = Pgm.decode(Pgm.encode(4, 4, px))
    assert(w === 4 && h === 4 && back.toSeq === px.toSeq)
    val df = Seq(Multimodal.MediaRow(1L, "image", Pgm.encode(4, 4, px),
      4, 4, 0)).toDS().toDF()
    val out = Multimodal.resizeImages(df, 2, 2).collect()(0)
    val (w2, h2, p2) = Pgm.decode(out.getAs[Array[Byte]]("content"))
    assert((w2, h2) === ((2, 2)))
    // NN picks source rows/cols 0 and 2: pixels 0, 2, 8, 10
    assert(p2.toSeq === Seq[Byte](0, 2, 8, 10))
    // and the real image feature path: band sums of the decoded raster
    val r0 = Multimodal.extractFeatures(df).collect()(0)
    val feats = r0.getSeq[Float](r0.fieldIndex("features"))
    // 4 rows, bandRows=max(4/8,1)=1 → band j is row j; bands 4..7 empty
    assert(feats(0) * 255 === (0 + 1 + 2 + 3))
    assert(feats(1) * 255 === (4 + 5 + 6 + 7))
    assert(feats(3) * 255 === (12 + 13 + 14 + 15))
    assert(feats(7) === 0f)
  }

  test("WAV codec round-trips; audio features are real frame energies") {
    import graft.multimodal.Multimodal
    import graft.multimodal.Multimodal.Wav
    import spark.implicits._
    val samples = Array.tabulate(16)(i => ((i - 8) * 1000).toShort)
    val bytes = Wav.encode(16000, samples)
    assert(bytes.length === 44 + 32)
    val (rate, back) = Wav.decode(bytes)
    assert(rate === 16000 && back.toSeq === samples.toSeq)
    val df = Seq(Multimodal.MediaRow(1L, "audio", bytes, 64, 64, 16000))
      .toDS().toDF()
    val r0 = Multimodal.extractFeatures(df).collect()(0)
    val feats = r0.getSeq[Float](r0.fieldIndex("features"))
    // 16 samples, frameLen = max(16/8,1) = 2 → frame j = samples 2j,2j+1
    assert(math.round(feats(0) * 255) === 8000 + 7000)
    assert(math.round(feats(7) * 255) === 6000 + 7000)
    // the fabricated fixture round-trips through the real codec
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val one = Multimodal.mediaFromDocuments(docs, Some("audio"))
      .filter(col("doc_id") === 1).collect()(0)
    val (r2, s2) = Wav.decode(one.getAs[Array[Byte]]("content"))
    assert(r2 === Multimodal.AudioRate)
    assert(s2.length === Multimodal.audioSampleCount(1L))
    assert(s2.zipWithIndex.forall { case (s, i) =>
      s === Multimodal.audioSample(1L, i) })
  }

  test("frame sampling decodes the real frame at each sampled offset") {
    import graft.multimodal.Multimodal
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val frames = Multimodal.sampleFrames(
      Multimodal.mediaFromDocuments(docs), 1000, 250)
    val perDoc = frames.groupBy("doc_id").count().select("count").distinct()
    assert(perDoc.collect().map(_.getLong(0)).toSeq === Seq(4L))
    // spot-check one doc against the fixture formula: 8 fps, clamped
    val rows = frames.filter(col("doc_id") === 2)
      .orderBy("frame_ms").collect()
    val nFrames = Multimodal.videoFrameCount(2L)
    rows.foreach { r =>
      val ms = r.getAs[Int]("frame_ms")
      val k = math.min(ms * Multimodal.VideoFps / 1000, nFrames - 1)
      assert(r.getAs[Int]("frame_idx") === k)
      val expected = (0 until 64 * 64).map(i =>
        (Multimodal.videoPixel(2L, k, i) & 0xff).toLong).sum
      assert(r.getAs[Long]("frame_sum") === expected)
    }
  }

  test("motion-PGM round trip preserves every frame") {
    import graft.multimodal.Multimodal.{MPgm, Pgm}
    val frames = Array.tabulate(3)(k =>
      Array.tabulate(16)(i => (k * 16 + i).toByte))
    val stream = MPgm.encode(frames, 4, 4)
    val back = MPgm.decodeFrames(stream)
    assert(back.length === 3)
    back.zipWithIndex.foreach { case ((w, h, px), k) =>
      assert(w === 4 && h === 4 && px.toSeq === frames(k).toSeq)
    }
    // a single frame is still a plain valid PGM
    assert(Pgm.decode(Pgm.encode(4, 4, frames(0)))._3.toSeq ===
      frames(0).toSeq)
  }
}
