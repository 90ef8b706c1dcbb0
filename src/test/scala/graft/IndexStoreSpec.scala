package graft

import graft.sources.{IndexStore, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract corners of the serving manifest the composed
  * index_manifest_gate doesn't exercise: losing a commit race, time
  * travel across mutations, file-level pruned reads, idempotent
  * forget, and a retention window wider than 1. */
class IndexStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val dir = "/root/testdata/sf0.001"
  private def emb = Tables.embeddings(spark, dir)

  private def freshRoot(): String = {
    val p = java.nio.file.Files.createTempDirectory("graft_store_spec_")
    p.toFile.deleteOnExit()
    p.toString
  }

  private def fp(df: org.apache.spark.sql.DataFrame) =
    graft.gates.Audit.fingerprint(df, graft.operators.Similarity.CodeCols)

  test("build + open round-trips models and codes; version log is v1") {
    val root = freshRoot()
    val v1 = IndexStore.build(spark, root, emb)
    assert(v1.version === 1L && v1.op === "build")
    assert(IndexStore.versions(spark, root) === Seq(1L))
    val reopened = IndexStore.open(spark, root)
    // parquet double round trip is exact — models reproduce bit-for-bit
    assert(reopened.cents.map(_.toSeq).toSeq === v1.cents.map(_.toSeq).toSeq)
    assert(reopened.cb.map(_.map(_.toSeq).toSeq).toSeq ===
      v1.cb.map(_.map(_.toSeq).toSeq).toSeq)
    // ...and AGAINST THE DISK BYTES, bypassing the per-JVM model cache
    // (writeModels write-through-seeds it, so the assertions above can
    // be reference-equal; the write-through's soundness rests on THIS
    // direct-parquet parse agreeing)
    val centsDisk = spark.read.parquet(s"$root/${v1.modelDir}/cents.parquet")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toArray)
    assert(centsDisk.map(_.toSeq).toSeq === v1.cents.map(_.toSeq).toSeq)
    val cbDisk = spark.read.parquet(s"$root/${v1.modelDir}/codebook.parquet")
      .orderBy("sub", "code").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray))
    assert(cbDisk.map(_.map(_.toSeq).toSeq) ===
      v1.cb.map(_.map(_.toSeq).toSeq).toSeq)
    assert(fp(IndexStore.codes(spark, root, reopened))._1 === emb.count())
  }

  test("second build of an initialized store loses the v1 commit race") {
    val root = freshRoot()
    IndexStore.build(spark, root, emb.filter(col("vec_id") < 400))
    val e = intercept[IllegalArgumentException] {
      IndexStore.build(spark, root, emb)
    }
    assert(e.getMessage.contains("already initialized"))
    // the loser's episode garbage never corrupts the live snapshot
    val live = IndexStore.open(spark, root)
    assert(live.version === 1L)
    assert(fp(IndexStore.codes(spark, root, live))._1 ===
      emb.filter(col("vec_id") < 400).count())
  }

  test("time travel: every version reproduces its publish-time content") {
    val root = freshRoot()
    val base = emb.filter(col("vec_id") < 400)
    val inc = emb.filter(col("vec_id") >= 400)
    val v1 = IndexStore.build(spark, root, base)
    val f1 = fp(IndexStore.codes(spark, root, v1))
    val v2 = IndexStore.append(spark, root, inc)
    val f2 = fp(IndexStore.codes(spark, root, v2))
    val v3 = IndexStore.compact(spark, root)
    assert(fp(IndexStore.codes(spark, root, v3)) === f2)
    // pinned readers of superseded versions are intact
    assert(fp(IndexStore.codes(spark, root,
      IndexStore.openVersion(spark, root, 1L))) === f1)
    assert(fp(IndexStore.codes(spark, root,
      IndexStore.openVersion(spark, root, 2L))) === f2)
    assert(IndexStore.versions(spark, root) === Seq(1L, 2L, 3L))
  }

  test("codesForCells reads exactly the wanted cells' rows") {
    val root = freshRoot()
    val v1 = IndexStore.build(spark, root, emb)
    val all = IndexStore.codes(spark, root, v1)
    val twoCells = all.select("cell").distinct().orderBy("cell")
      .limit(2).collect().map(_.getInt(0)).toSet
    val pruned = IndexStore.codesForCells(spark, root, v1, twoCells)
    assert(pruned.select("cell").distinct().collect()
      .map(_.getInt(0)).toSet === twoCells)
    assert(pruned.count() ===
      all.filter(col("cell").isin(twoCells.toSeq: _*)).count())
    // and the pruned read opened strictly fewer files than the snapshot
    assert(v1.fileCells.count(twoCells) < v1.files.size)
  }

  test("forget is idempotent: re-forgetting absent ids rewrites nothing") {
    val root = freshRoot()
    IndexStore.build(spark, root, emb)
    val doomed = emb.filter(col("vec_id") % 97 === 0).select("vec_id")
    val v2 = IndexStore.forget(spark, root, doomed)
    val f2 = fp(IndexStore.codes(spark, root, v2))
    val v3 = IndexStore.forget(spark, root, doomed)
    // no doomed cells the second time → the file list is INHERITED,
    // and the DEFAULT form still commits the content-identical version
    // (the manifest gate's oracle counts on explicit mutations
    // committing even when trivial)
    assert(v3.version === v2.version + 1)
    assert(v3.files === v2.files)
    assert(fp(IndexStore.codes(spark, root, v3)) === f2)
    assert(v3.nRows === v2.nRows)
    // the STREAMING-SINK form (noopOnEmpty) makes the same touch-
    // nothing forget commit-free instead
    val v4 = IndexStore.forget(spark, root, doomed, noopOnEmpty = true)
    assert(v4.version === v3.version)
    assert(IndexStore.versions(spark, root).last === v3.version)
  }

  test("noopOnEmpty: empty append and empty forget are commit-free; " +
       "the defaults still commit") {
    val root = freshRoot()
    IndexStore.build(spark, root, emb.filter(col("vec_id") < 400))
    val v1 = IndexStore.open(spark, root)
    val none = emb.filter(col("vec_id") < 0)
    // sink form: no version burned on a zero-row micro-batch — and no
    // watermark regression either (a replay of the same empty batch is
    // skipped the same way)
    val a = IndexStore.append(spark, root,
      none.select("vec_id", "embedding"),
      txn = Some(("noop_spec", 0L)), noopOnEmpty = true)
    assert(a.version === v1.version)
    val f = IndexStore.forget(spark, root, none.select("vec_id"),
      noopOnEmpty = true)
    assert(f.version === v1.version)
    assert(IndexStore.versions(spark, root) === Seq(1L))
    // ...and no file-less episode dir outlives the no-op append
    val dataDir = new java.io.File(s"$root/data")
    def hasPart(d: java.io.File): Boolean =
      d.listFiles().exists(f =>
        if (f.isDirectory) hasPart(f) else f.getName.startsWith("part-"))
    val fileless = dataDir.listFiles().filter(d => d.isDirectory && !hasPart(d))
    assert(fileless.isEmpty,
      s"orphan episode dirs: ${fileless.map(_.getName).toSeq}")
    // default form: the explicit batch mutation commits (DegenerateSpec
    // pins the same at the gate level on empty corpora)
    val a2 = IndexStore.append(spark, root,
      none.select("vec_id", "embedding"))
    assert(a2.version === v1.version + 1)
  }

  test("vacuum evicts reaped model generations from the warm-JVM cache") {
    val root = freshRoot()
    IndexStore.build(spark, root, emb.filter(col("vec_id") < 400))
    IndexStore.rebuild(spark, root, emb) // generation 2, v2
    // warm the per-JVM cache on generation 1
    val pinned = IndexStore.openVersion(spark, root, 1L)
    assert(pinned.modelGen === 1L)
    IndexStore.vacuum(spark, root, retainLast = 1, minAgeMs = 0L)
    // generation 1's model dir is reaped — a warm JVM must fail the
    // same way a cold one does (before invalidation the stale cache
    // entry kept serving the vacuumed generation)
    intercept[Exception] { IndexStore.openVersion(spark, root, 1L) }
    // the live generation is untouched
    val live = IndexStore.open(spark, root)
    assert(live.version === 2L && live.modelGen === 2L)
    assert(IndexStore.codes(spark, root, live).count() === emb.count())
  }

  test("checkpointed log: open equals replay across the boundary; " +
       "txn watermark carried forward") {
    val root = freshRoot()
    val base = emb.filter(col("vec_id") < 400)
    IndexStore.build(spark, root, base)
    // 11 tiny txn-stamped appends → versions 2..12, a checkpoint at 10
    val fps = scala.collection.mutable.Map[Long, (Long, String)]()
    fps(1L) = fp(IndexStore.codes(spark, root,
      IndexStore.openVersion(spark, root, 1L)))
    (0 until 11).foreach { i =>
      val snap = IndexStore.append(spark, root,
        emb.filter(col("vec_id") % 11 === i),
        txn = Some(("ckpt_spec", i.toLong)))
      fps(snap.version) = fp(IndexStore.codes(spark, root, snap))
    }
    assert(IndexStore.versions(spark, root) === (1L to 12L))
    assert(IndexStore.checkpoints(spark, root) === Seq(10L))
    // every version — before, at, and after the checkpoint — reopens
    // to its publish-time content (stateAt reads checkpoint + tail for
    // v >= 10, the full chain for the pre-checkpoint past)
    Seq(1L, 5L, 9L, 10L, 11L, 12L).foreach { v =>
      assert(fp(IndexStore.codes(spark, root,
        IndexStore.openVersion(spark, root, v))) === fps(v), s"v$v")
    }
    // the watermark survives the checkpoint boundary...
    assert(IndexStore.lastTxnVersion(spark, root, "ckpt_spec") ===
      Some(10L))
    // ...and still suppresses a replayed batch (no new version)
    val replay = IndexStore.append(spark, root,
      emb.filter(col("vec_id") % 11 === 3),
      txn = Some(("ckpt_spec", 3L)))
    assert(replay.version === 12L)
    assert(IndexStore.versions(spark, root).last === 12L)
  }

  test("two racing appends both land serialized (losing writer retries)") {
    val root = freshRoot()
    val base = emb.filter(col("vec_id") < 400)
    IndexStore.build(spark, root, base)
    val incA = emb.filter(col("vec_id") >= 400 && col("vec_id") % 2 === 0)
    val incB = emb.filter(col("vec_id") >= 400 && col("vec_id") % 2 === 1)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(IndexStore.append(spark, root, incA))
    val fb = Future(IndexStore.append(spark, root, incB))
    Await.result(fa, 5.minutes)
    Await.result(fb, 5.minutes)
    // both committed: one won v2, the loser re-opened and took v3 —
    // content equals the sequential schedule (encode is deterministic
    // under the frozen v1 models, so order doesn't matter)
    assert(IndexStore.versions(spark, root) === Seq(1L, 2L, 3L))
    val live = IndexStore.open(spark, root)
    assert(live.nRows === emb.count())
    assert(fp(IndexStore.codes(spark, root, live))._1 === emb.count())
    val doomed = IndexStore.codes(spark, root, live)
      .groupBy("nn_id").count().filter(col("count") > 1).count()
    assert(doomed === 0L, "no row double-appended")
  }

  test("vacuum protects in-flight (future-version) and young dirs") {
    val root = freshRoot()
    IndexStore.build(spark, root, emb.filter(col("vec_id") < 400))
    IndexStore.append(spark, root, emb.filter(col("vec_id") >= 400))
    IndexStore.compact(spark, root) // v3 swaps the whole list
    // a concurrent writer mid-commit: episode written, manifest not yet
    // renamed — its encoded target version (4) exceeds the committed
    // horizon (3), so vacuum must never touch it
    val inflight = new java.io.File(s"$root/data/v000000004-feedf00d")
    assert(inflight.mkdirs())
    val inflightFile = new java.io.File(inflight, "part-inflight.parquet")
    assert(inflightFile.createNewFile())
    // a LOST attempt at an already-committed version: unreferenced and
    // at/below the horizon — reapable by the version arm, but shielded
    // by a nonzero age window
    val lost = new java.io.File(s"$root/data/v000000002-0ddba11")
    assert(lost.mkdirs())
    assert(new java.io.File(lost, "part-lost.parquet").createNewFile())
    IndexStore.vacuum(spark, root, retainLast = 1,
      minAgeMs = 24L * 3600 * 1000)
    assert(inflight.exists(), "in-flight episode survived (age arm)")
    assert(lost.exists(), "young lost attempt survived (age arm)")
    IndexStore.vacuum(spark, root, retainLast = 1, minAgeMs = 0L)
    assert(inflight.exists(), "in-flight episode survived (version arm)")
    assert(!lost.exists(), "aged-out lost attempt reaped")
    // the live snapshot is intact through both sweeps
    assert(fp(IndexStore.codes(spark, root,
      IndexStore.open(spark, root)))._1 === emb.count())
  }

  test("default-args vacuum shields a build racing on v1") {
    val root = freshRoot()
    // writer A's build already committed v1; writer B's racing build
    // has written its episode (target version 1 — AT the committed
    // horizon, so the version arm cannot tell it from a lost attempt)
    // but not yet renamed its manifest
    IndexStore.build(spark, root, emb)
    val racing = new java.io.File(s"$root/data/v000000001-5eed1e55")
    assert(racing.mkdirs())
    assert(new java.io.File(racing, "part-racing.parquet").createNewFile())
    // DEFAULT arguments: the age arm (DefaultVacuumMinAgeMs) must
    // protect B's fresh dir even though it is unreferenced
    IndexStore.vacuum(spark, root)
    assert(racing.exists(),
      "racing build's episode survived a default-args vacuum")
    // explicit 0L is the gates' opt-in that reaps it
    IndexStore.vacuum(spark, root, minAgeMs = 0L)
    assert(!racing.exists(), "explicit minAgeMs=0 reaps the orphan")
    assert(fp(IndexStore.codes(spark, root,
      IndexStore.open(spark, root)))._1 === emb.count())
  }

  test("maybeCompact: below threshold is a version-preserving no-op; " +
       "above threshold compacts") {
    val root = freshRoot()
    IndexStore.build(spark, root, emb.filter(col("vec_id") < 400))
    IndexStore.append(spark, root, emb.filter(col("vec_id") >= 400))
    val before = IndexStore.open(spark, root)
    val fBefore = fp(IndexStore.codes(spark, root, before))
    val (noop, fired1) = IndexStore.maybeCompact(spark, root,
      filesPerCell = 1e9)
    assert(!fired1 && noop.version === before.version)
    assert(IndexStore.versions(spark, root).last === before.version)
    // threshold 1.0: any store with >= 1 file per occupied cell fires
    val (compacted, fired2) = IndexStore.maybeCompact(spark, root,
      filesPerCell = 1.0)
    assert(fired2 && compacted.version === before.version + 1)
    assert(compacted.op === "compact")
    assert(fp(IndexStore.codes(spark, root, compacted)) === fBefore)
    val occupied = compacted.fileCells.distinct.size
    assert(compacted.files.size <= occupied)
  }

  test("vacuum honors the retention window, then tightens to live") {
    val root = freshRoot()
    val base = emb.filter(col("vec_id") < 400)
    IndexStore.build(spark, root, base)
    IndexStore.append(spark, root, emb.filter(col("vec_id") >= 400))
    val v3 = IndexStore.compact(spark, root)
    val f3 = fp(IndexStore.codes(spark, root, v3))
    // retain 2: v2 and v3 — v2's files include v1's (append shares),
    // so the v2 pinned reader must survive this vacuum
    IndexStore.vacuum(spark, root, retainLast = 2, minAgeMs = 0L)
    val f2 = fp(IndexStore.codes(spark, root,
      IndexStore.openVersion(spark, root, 2L)))
    assert(f2._1 === emb.count())
    // retain 1: only v3's swapped file set remains
    val (removed, _) = IndexStore.vacuum(spark, root, retainLast = 1,
      minAgeMs = 0L)
    assert(removed > 0L)
    assert(fp(IndexStore.codes(spark, root,
      IndexStore.open(spark, root))) === f3)
  }

  test("_last_checkpoint pointer: written at the cadence, drives open; " +
       "absent/stale/corrupt pointers fall back to the listing") {
    val root = freshRoot()
    IndexStore.build(spark, root, emb.filter(col("vec_id") < 400))
    (0 until 11).foreach { i =>
      IndexStore.append(spark, root, emb.filter(col("vec_id") % 11 === i))
    }
    val ptr = new java.io.File(s"$root/log/_last_checkpoint")
    assert(ptr.exists(), "pointer lands with the v10 checkpoint")
    assert(new String(java.nio.file.Files.readAllBytes(ptr.toPath))
      .trim === "version=10")
    val live = IndexStore.open(spark, root)
    assert(live.version === 12L)
    val fLive = fp(IndexStore.codes(spark, root, live))
    // pointer-driven open == listing-driven open (delete the pointer:
    // the fallback path reconstructs the same snapshot)
    val ptrBytes = java.nio.file.Files.readAllBytes(ptr.toPath)
    assert(ptr.delete())
    val viaListing = IndexStore.open(spark, root)
    assert(viaListing.version === 12L)
    assert(fp(IndexStore.codes(spark, root, viaListing)) === fLive)
    assert(IndexStore.lastTxnVersion(spark, root, "nobody") === None)
    // a STALE pointer (simulating a crashed writer that never advanced
    // it) still opens the true maximum: the probe loop walks the dense
    // commit chain forward past the pointed checkpoint
    java.nio.file.Files.write(ptr.toPath, ptrBytes)
    (11 until 14).foreach { i =>
      IndexStore.append(spark, root, emb.filter(col("vec_id") % 17 === i))
    }
    // appends 13..15 landed; pointer may have advanced only via the
    // writer — force it stale again to exercise the forward walk
    java.nio.file.Files.write(ptr.toPath, "version=10\n".getBytes)
    val stale = IndexStore.open(spark, root)
    assert(stale.version === 15L)
    // corrupt pointer: unparseable content falls back to the listing
    java.nio.file.Files.write(ptr.toPath, "version=not_a_number\n".getBytes)
    assert(IndexStore.open(spark, root).version === 15L)
    // dangling pointer (checkpoint file missing): fallback too
    java.nio.file.Files.write(ptr.toPath, "version=990\n".getBytes)
    assert(IndexStore.open(spark, root).version === 15L)
  }
}
