package graft.sources

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, Options, Path}
import java.nio.charset.StandardCharsets

/** Versioned SERVING MANIFEST for the stored IVFADC index — the
  * table-format contract the bare `partitionBy(cell)` store lacks.
  * The store has four mutation paths (build / partition-append /
  * compaction / forget) and, without a manifest, "which directory is
  * live" is convention: a reader that lists the data dir while a
  * compaction finishes sees half of two snapshots. This object makes
  * the snapshot an ARTIFACT, using the public version-log pattern
  * (Delta/Iceberg-style): data files are immutable and write-once, a
  * snapshot is an explicit FILE LIST plus a model-generation pointer,
  * and a commit is one atomic rename into a monotonically numbered
  * log. Readers never lock: `open` lists the log, takes the highest
  * committed version, and reads exactly that snapshot's files — a
  * concurrent writer can commit, compact, even vacuum (outside the
  * retention window) without perturbing an open reader.
  *
  * Layout under the store root:
  * {{{
  *   data/v%09d-<uuid>/cell_pt=<c>/part-*.parquet   // attempt-unique
  *   models/g%09d-<uuid>/{cents,codebook}.parquet   // model generations
  *   log/v%09d.commit                               // one DELTA each
  *   log/v%09d.checkpoint                           // full state, every K
  *   log/_last_checkpoint                           // bounded-discovery ptr
  * }}}
  *
  *  - Commits are DELTAS (the Delta-log action pattern): each manifest
  *    records only `add=` / `remove=` file entries (plus `truncate=1`
  *    for the list-swapping ops build/compact/rebuild), so APPEND's
  *    commit is O(increment) and FORGET's is O(doomed-cell footprint)
  *    — never O(total files). The r15 format serialized the FULL file
  *    list into every commit, which at millions of files made every
  *    append an O(files) metadata rewrite.
  *  - Every [[CheckpointInterval]]-th commit also publishes a
  *    CHECKPOINT: the fully-reconstructed state (file list, model
  *    pointer, per-app transaction watermarks) at that version — the
  *    public `_last_checkpoint` / log-compaction pattern. A reader's
  *    `open` parses ONE checkpoint plus at most K−1 delta tails
  *    instead of the whole chain, so open/commit/txn-lookup cost is
  *    flat in the number of historical commits (IndexStoreSpec pins
  *    open-equals-replay across a boundary; the `index_log_stress`
  *    row measures the flat slope).
  *  - Data files carry (nn_id, cell, codes) IN the data (`cell_pt` is a
  *    duplicate partition column for directory hygiene): a manifest
  *    reader opens leaf FILES, so pruning is file-level — the manifest
  *    records each file's cell, and [[codesForCells]] reads only the
  *    probed cells' files (data skipping without directory discovery).
  *  - A commit writes its episode dir and model generation FIRST, then
  *    publishes by renaming a fully-written temp manifest to
  *    `log/v%09d.commit` via `FileContext.rename(…, Rename.NONE)` —
  *    the no-overwrite contract is explicit in the API (plain
  *    `FileSystem.rename` on a local filesystem maps to rename(2),
  *    which silently clobbers an existing destination), so two racing
  *    writers of the same version produce one winner and one loser
  *    whose mutator RE-OPENS the new parent, recomputes its delta and
  *    retries ([[MaxCommitRetries]] attempts — the spec races two real
  *    appends and both land). On S3-class stores the same commit maps
  *    to a conditional PUT.
  *  - Version logs are never rewritten: a reader's `open` is a
  *    consistent point-in-time view, and [[openVersion]] pins any
  *    retained historical snapshot (time travel).
  *  - Per-app WRITER-TRANSACTION WATERMARKS (Delta's txnAppId pattern)
  *    ride the checkpoints: [[lastTxnVersion]] reads the latest
  *    checkpoint's aggregated map plus the delta tail — O(K) files —
  *    where the r15 form re-parsed every manifest on every stamped
  *    append (O(V²) over a stream's life).
  *
  * Mutation cost model at 100 TB: APPEND writes only the increment's
  * files and commits only their `add` entries; COMPACT writes one file
  * per occupied cell and swaps the whole list; FORGET rewrites only
  * the files of cells that actually held doomed rows (bounded by the
  * deleted set's cell footprint); REBUILD starts a new model
  * generation. All four leave every older snapshot intact until
  * [[vacuum]] reclaims files outside the retention window.
  */
object IndexStore {

  /** The (nn_id, cell, codes) schema every snapshot's data files hold. */
  val CodesSchema: StructType = StructType(Seq(
    StructField("nn_id", LongType),
    StructField("cell", IntegerType),
    StructField("codes", ArrayType(IntegerType))))

  /** Checkpoint cadence: every K-th commit publishes the full
    * reconstructed state. 10 bounds a cold `open` at 1 checkpoint + 9
    * delta parses regardless of history length; Delta's default is the
    * same order of magnitude. */
  val CheckpointInterval: Long = 10L

  /** Bounded optimistic-concurrency retries for the mutators: a losing
    * writer re-opens the NEW parent, recomputes its delta (the episode
    * it wrote for the lost attempt becomes unreferenced garbage for
    * [[vacuum]]) and tries the next version number. Sized for 8-way
    * writer contention with ≥2× headroom: the worst loser of an N-way
    * race needs N attempts (one winner per round), so 16 covers N = 8
    * twice over — ScaleStress's `writer_contention` row races 8 real
    * committers and records the attempts-to-land distribution against
    * this bound. */
  val MaxCommitRetries: Int = 16

  /** Attempts the CURRENT thread's last mutate() took to land —
    * contention observability for `tools/ScaleStress` (a stress row
    * prices the retry bound with it); not part of the store API. */
  private[graft] val lastMutationTries = new ThreadLocal[Int]

  /** Default [[vacuum]] age shield: dirs younger than this survive even
    * when unreferenced and at/below the committed version horizon. The
    * version arm cannot protect a writer whose target version is
    * already committed (e.g. a `build` racing on v1), so the age arm
    * must be on BY DEFAULT — Delta's retention-duration check is the
    * same safety-by-default stance. Gates and tests that vacuum a
    * store they just wrote opt into `minAgeMs = 0L` explicitly. */
  val DefaultVacuumMinAgeMs: Long = 24L * 3600 * 1000

  /** One committed snapshot: `files` are store-root-relative paths,
    * `fileCells` the per-file cell id parsed from the path (the data-
    * skipping key), `modelGen` the logical generation counter and
    * `modelDir` the store-relative dir of the frozen models serving
    * it (attempt-unique — two writers racing a rebuild never share a
    * model directory, same as data episodes). */
  case class Snapshot(version: Long, op: String, modelGen: Long,
                      modelDir: String, nRows: Long, cells: Int,
                      files: Seq[String], fileCells: Seq[Int],
                      cents: Array[Array[Double]],
                      cb: Array[Array[Array[Double]]])

  private def fs(s: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def vName(v: Long) = f"v$v%09d"

  // ---- model-generation persistence (driver-bounded metadata) ----

  /** Write one model generation into an attempt-unique dir; returns
    * its store-relative path (the manifest records it). WRITE-THROUGH
    * cache: the arrays just serialized ARE what a same-JVM reader
    * would parse back (the parquet double round trip is exact —
    * IndexStoreSpec pins bit-equality against a direct parquet read
    * that bypasses this cache), so seeding [[modelCache]] here saves
    * every build/rebuild the two collect jobs its own immediate
    * `snapOf` would otherwise pay. Cross-JVM readers still parse. */
  private def writeModels(s: SparkSession, root: String, gen: Long,
                          cents: Array[Array[Double]],
                          cb: Array[Array[Array[Double]]]): String = {
    import s.implicits._
    val rel = f"models/g$gen%09d-${java.util.UUID.randomUUID().toString.take(8)}"
    val dir = s"$root/$rel"
    cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/cents.parquet")
    cb.zipWithIndex.flatMap { case (sub, si) =>
      sub.zipWithIndex.map { case (v, ci) => (si, ci, v.toSeq) }
    }.toSeq.toDF("sub", "code", "vec")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/codebook.parquet")
    modelCache.putIfAbsent(dir, (cents, cb))
    modelLru.put(dir, java.lang.Boolean.TRUE)
    rel
  }

  /** Per-JVM model cache, keyed by the ABSOLUTE model dir. Safe by
    * construction: model dirs are attempt-unique (uuid-suffixed) and
    * write-once — a path's content can never change, so a hit is
    * always current. This turns the two parquet reads every mutator
    * attempt, snapshot open and stream micro-batch pays into a map
    * lookup; entries are driver-bounded metadata (≤cells×dim +
    * 16×256×subdim doubles per generation).
    *
    * BOUNDED: an access-ordered LRU capped at [[ModelCacheMax]]
    * generations — an unbounded map grew without limit in any
    * long-running driver that periodically reindexes (each rebuild is
    * a new generation) or opens many stores. [[vacuum]] also
    * invalidates the entries of every model dir it reaps, so a warm
    * JVM agrees with a cold one about which generations are readable.
    *
    * SHARED-IMMUTABLE CONTRACT: the cached (cents, cb) array instances
    * are handed out to every caller and stored in each [[Snapshot]]
    * verbatim — they must NEVER be mutated in place (they are the
    * frozen write-once models; every consumer treats them as
    * read-only). A defensive copy per open would cost cells×dim
    * doubles on every snapshot open and micro-batch for a hazard no
    * caller has. */
  private val ModelCacheMax = 64
  private type Models = (Array[Array[Double]], Array[Array[Array[Double]]])
  // Lookup/compute map and LRU bookkeeping are SEPARATE (r18 advice):
  // a single synchronizedMap(access-order LinkedHashMap) ran each
  // miss's Spark parquet collect() under the map-wide monitor, so
  // concurrent model reads for DIFFERENT stores serialized on one lock
  // (8-way writer contention + streaming micro-batches all funnel
  // through here). Now misses compute OUTSIDE any lock and publish
  // with putIfAbsent (model dirs are write-once, so a doubly-computed
  // value is identical and one copy wins); the access-order map only
  // does O(1) touches under its monitor and evicts the eldest key from
  // the lookup map when the cap is crossed.
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, Models]()
  private val modelLru: java.util.Map[String, java.lang.Boolean] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, java.lang.Boolean](
          16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, java.lang.Boolean]): Boolean = {
          val evict = size() > ModelCacheMax
          if (evict) modelCache.remove(e.getKey)
          evict
        }
      })

  private def readModels(s: SparkSession, root: String, rel: String)
      : Models = {
    val dir = s"$root/$rel"
    val cached = modelCache.get(dir)
    val v =
      if (cached != null) cached
      else {
        val cents = s.read.parquet(s"$dir/cents.parquet")
          .orderBy("cell").collect()
          .map(_.getSeq[Double](1).toArray)
        val cb = s.read.parquet(s"$dir/codebook.parquet")
          .orderBy("sub", "code").collect()
          .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
          .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray))
          .toArray
        val prev = modelCache.putIfAbsent(dir, (cents, cb))
        if (prev != null) prev else (cents, cb)
      }
    modelLru.put(dir, java.lang.Boolean.TRUE)
    v
  }

  // ---- data-episode write + listing ----

  /** Write `rows` (nn_id, cell, codes) as a fresh episode dir for the
    * commit targeting version `v` and return the (relative path, cell)
    * pairs it produced. The episode name is ATTEMPT-unique (version +
    * uuid): two writers racing on the same version must never share a
    * directory — a version-named dir would let the eventual LOSER's
    * overwrite clobber the winner's already-committed files. The
    * `cell` column stays IN the data; `cell_pt` duplicates it as the
    * partition directory. `repartition(cell)` puts each cell's rows in
    * one task → one file per occupied cell per episode (at 100 TB the
    * key becomes a cell→task bin-packing; the shape is the same). */
  private def writeEpisode(s: SparkSession, root: String, v: Long,
                           rows: DataFrame): Seq[(String, Int)] =
    writeEpisodeCounted(s, root, v, rows)._2

  /** [[writeEpisode]] that ALSO reports the episode's relative dir and
    * row count, the count read from the write job's own observed
    * metrics (CollectMetrics) — the mutators' commit arithmetic
    * (`Meta.nRows`) used to pay a separate count() job per
    * build/append/rebuild for a number the write job already knows
    * (guide §1.2: fewer actions). */
  private def writeEpisodeCounted(s: SparkSession, root: String, v: Long,
                                  rows: DataFrame)
      : (String, Seq[(String, Int)], Long) = {
    val rel = s"data/${vName(v)}-${java.util.UUID.randomUUID().toString
      .take(8)}"
    val obs = new org.apache.spark.sql.Observation()
    rows.select(col("nn_id"), col("cell"), col("codes"),
        col("cell").as("cell_pt"))
      .observe(obs, count(lit(1)).as("n"))
      .repartition(col("cell_pt"))
      .write.mode("overwrite").partitionBy("cell_pt")
      .parquet(s"$root/$rel")
    val files = listEpisode(s, root, rel)
    // a statically-empty input plan loses its CollectMetrics node to
    // PropagateEmptyRelation — the event then carries no metrics. A
    // file-less episode is zero rows by construction; the files-present
    // branch is unreachable today but counts rather than guesses.
    val n = obs.get.get("n") match {
      case Some(v) => v.asInstanceOf[Long]
      case None if files.isEmpty => 0L
      case None =>
        s.read.parquet(files.map(f => s"$root/${f._1}"): _*).count()
    }
    (rel, files, n)
  }

  /** Recursively list one episode dir's part files as store-relative
    * (path, cell) pairs; cell parses from the `cell_pt=` segment. */
  private def listEpisode(s: SparkSession, root: String,
                          rel: String): Seq[(String, Int)] = {
    val f = fs(s, root)
    val p = new Path(s"$root/$rel")
    if (!f.exists(p)) return Seq.empty
    val it = f.listFiles(p, true)
    val out = Seq.newBuilder[(String, Int)]
    while (it.hasNext) {
      val fp = it.next().getPath
      if (fp.getName.startsWith("part-")) {
        val cell = fp.getParent.getName match {
          case n if n.startsWith("cell_pt=") =>
            n.substring("cell_pt=".length).toInt
          case _ => -1
        }
        out += ((s"$rel/${fp.getParent.getName}/${fp.getName}", cell))
      }
    }
    out.result().sortBy(_._1)
  }

  // ---- the version log: delta manifests + periodic checkpoints ----

  /** One parsed DELTA manifest. `truncate` resets the inherited file
    * list (build/compact/rebuild — the list-swapping ops); `removes`
    * drop inherited paths (forget's doomed-cell footprint); `adds`
    * append this commit's new files. */
  private case class Meta(version: Long, op: String, modelGen: Long,
                          modelDir: String, nRows: Long, cells: Int,
                          truncate: Boolean,
                          removes: Seq[String],
                          adds: Seq[(String, Int)],
                          txn: Option[(String, Long)])

  /** The RECONSTRUCTED store state at one version: what a checkpoint
    * serializes, and what replaying deltas over the previous state
    * produces. `txnw` carries every writer-app's highest committed
    * transaction version (the idempotent-sink watermark) forward, so
    * the lookup never re-reads history. */
  private case class State(version: Long, op: String, modelGen: Long,
                           modelDir: String, nRows: Long, cells: Int,
                           files: Vector[(String, Int)],
                           txnw: Map[String, Long])

  private val EmptyState =
    State(0L, "", 0L, "", 0L, 0, Vector.empty, Map.empty)

  private def applyDelta(st: State, m: Meta): State = {
    val kept =
      if (m.truncate) Vector.empty[(String, Int)]
      else if (m.removes.isEmpty) st.files
      else {
        val gone = m.removes.toSet
        st.files.filterNot { case (p, _) => gone(p) }
      }
    State(m.version, m.op, m.modelGen, m.modelDir, m.nRows, m.cells,
      kept ++ m.adds,
      m.txn.fold(st.txnw) { case (app, tv) =>
        st.txnw + (app -> math.max(tv, st.txnw.getOrElse(app, Long.MinValue)))
      })
  }

  /** Serialize + atomically publish the delta for version `v`; on a
    * win, also publish the checkpoint when the cadence lands on `v`.
    * The manifest is a line-oriented text file written FULLY to a temp
    * name, then renamed with an explicit no-overwrite contract —
    * returns false when a concurrent writer won the version (the
    * mutator re-opens and retries). `newState` is the caller's
    * already-reconstructed state AT `v` (parent state + this delta) —
    * the checkpoint serializes it without re-reading anything. */
  private def commitDelta(s: SparkSession, root: String, m: Meta,
                          newState: State): Boolean = {
    val f = fs(s, root)
    f.mkdirs(new Path(s"$root/log"))
    val body = new StringBuilder()
    body ++= s"version=${m.version}\nop=${m.op}\nmodel_gen=${m.modelGen}\n"
    body ++= s"model_dir=${m.modelDir}\n"
    body ++= s"n_rows=${m.nRows}\ncells=${m.cells}\n"
    m.txn.foreach { case (app, tv) =>
      body ++= s"txn_app=$app\ntxn_version=$tv\n" }
    if (m.truncate) body ++= "truncate=1\n"
    m.removes.foreach(p => body ++= s"remove=$p\n")
    m.adds.foreach { case (p, c) => body ++= s"add=$c\t$p\n" }
    val dest = new Path(s"$root/log/${vName(m.version)}.commit")
    val won = atomicPublish(s, root, body.toString, dest)
    if (won && m.version % CheckpointInterval == 0L)
      writeCheckpoint(s, root, newState)
    won
  }

  /** Write a fully-formed file then rename it into place with an
    * explicit rename-no-overwrite (`FileContext` + `Rename.NONE` — the
    * `FileSystem.rename` API on local filesystems maps to rename(2),
    * which silently clobbers an existing destination and would let two
    * racing writers both "win"). Returns false when the destination
    * already exists — the one-winner commit point. */
  private def atomicPublish(s: SparkSession, root: String, body: String,
                            dest: Path): Boolean = {
    val f = fs(s, root)
    val qDest = f.makeQualified(dest)
    val tmp = f.makeQualified(new Path(dest.getParent,
      s".tmp-${dest.getName}-${java.util.UUID.randomUUID()}"))
    val out = f.create(tmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (f.exists(qDest)) { f.delete(tmp, false); return false }
    try {
      val fc = FileContext.getFileContext(qDest.toUri,
        s.sparkContext.hadoopConfiguration)
      fc.rename(tmp, qDest, Options.Rename.NONE)
      true
    } catch {
      case _: FileAlreadyExistsException =>
        f.delete(tmp, false); false
      case _: org.apache.hadoop.fs.ParentNotDirectoryException =>
        f.delete(tmp, false); false
      case _: java.io.IOException =>
        // a lost local-fs race surfaces as a generic rename failure;
        // either way this attempt did not publish
        f.delete(tmp, false); false
    }
  }

  /** Best-effort checkpoint publish: the winner of version `v` is the
    * only writer that attempts `v%09d.checkpoint`, and a crash before
    * it lands only costs later readers a longer delta tail (never
    * correctness) — so failures are swallowed. A landed checkpoint
    * also ADVANCES the `_last_checkpoint` pointer (below) so hot-path
    * readers never pay the O(#log-files) directory listing. */
  private def writeCheckpoint(s: SparkSession, root: String,
                              st: State): Unit = {
    val body = new StringBuilder()
    body ++= s"version=${st.version}\nop=${st.op}\n"
    body ++= s"model_gen=${st.modelGen}\nmodel_dir=${st.modelDir}\n"
    body ++= s"n_rows=${st.nRows}\ncells=${st.cells}\n"
    st.txnw.toSeq.sortBy(_._1).foreach { case (app, tv) =>
      body ++= s"txnw=$app\t$tv\n" }
    st.files.foreach { case (p, c) => body ++= s"file=$c\t$p\n" }
    try {
      if (atomicPublish(s, root, body.toString,
            new Path(s"$root/log/${vName(st.version)}.checkpoint")))
        advanceLastCheckpointPtr(s, root, st.version)
    } catch { case _: java.io.IOException => () }
  }

  /** `log/_last_checkpoint` — the Delta-style BOUNDED-DISCOVERY
    * pointer. Without it every `open`/`liveState` pays one directory
    * listing of the whole log: O(#log-files) NAMES, which the
    * `manifest_log_deep` stress measured at ~1 s by depth 10⁴ — the
    * one super-constant term left in the open path. With it the hot
    * path reads one tiny file and then PROBES (existence checks) only
    * the dense commit tail past the checkpoint — O(commits since the
    * last checkpoint) ≤ [[CheckpointInterval]] + in-flight, flat in
    * history depth.
    *
    * The pointer is a HINT, never the truth: it is advanced
    * best-effort and only monotonically (a losing checkpoint racer
    * must not regress it; the read-compare-write below has a benign
    * TOCTOU — a regressed pointer costs extra probes, never
    * correctness, because the probe loop always walks forward to the
    * real maximum and log files are never deleted). Readers fall back
    * to the full listing when the pointer is absent, unparseable or
    * dangling. */
  private val LastCheckpointName = "_last_checkpoint"

  private def readLastCheckpointPtr(s: SparkSession,
                                    root: String): Option[Long] =
    try {
      val p = new Path(s"$root/log/$LastCheckpointName")
      if (!fs(s, root).exists(p)) None
      else readLogFile(s, root, p).get("version")
        .flatMap(_.headOption).flatMap(_.toLongOption)
    } catch { case _: java.io.IOException => None }

  private def advanceLastCheckpointPtr(s: SparkSession, root: String,
                                       v: Long): Unit =
    try {
      if (!readLastCheckpointPtr(s, root).exists(_ >= v)) {
        val f = fs(s, root)
        val dest = f.makeQualified(new Path(s"$root/log/$LastCheckpointName"))
        val tmp = f.makeQualified(new Path(dest.getParent,
          s".tmp-$LastCheckpointName-${java.util.UUID.randomUUID()}"))
        val out = f.create(tmp, true)
        try out.write(s"version=$v\n".getBytes(StandardCharsets.UTF_8))
        finally out.close()
        // OVERWRITE rename: atomic pointer swing — a concurrent reader
        // sees either the old or the new pointer, never a partial file
        val fc = FileContext.getFileContext(dest.toUri,
          s.sparkContext.hadoopConfiguration)
        fc.rename(tmp, dest, Options.Rename.OVERWRITE)
      }
    } catch { case _: java.io.IOException => () }

  /** Bounded live-version discovery via the pointer: verify the
    * pointed checkpoint exists, walk the DENSE commit chain forward to
    * the real maximum (committed versions are contiguous — every
    * commit is parent+1 with one winner), and pick the newest landed
    * checkpoint at or below it by probing the cadence multiples
    * backward. Returns (max committed version, checkpoint to replay
    * from); None → caller falls back to the full listing. */
  private def liveBounded(s: SparkSession,
                          root: String): Option[(Long, Seq[Long])] =
    readLastCheckpointPtr(s, root).flatMap { ptr =>
      val f = fs(s, root)
      if (!f.exists(new Path(s"$root/log/${vName(ptr)}.checkpoint"))) None
      else {
        var v = ptr
        while (f.exists(new Path(s"$root/log/${vName(v + 1)}.commit")))
          v += 1
        var best = ptr
        var ck = (v / CheckpointInterval) * CheckpointInterval
        while (ck > ptr && best == ptr) {
          if (f.exists(new Path(s"$root/log/${vName(ck)}.checkpoint")))
            best = ck
          else ck -= CheckpointInterval
        }
        Some((v, Seq(best)))
      }
    }

  private def readLogFile(s: SparkSession, root: String,
                          p: Path): Map[String, Seq[String]] = {
    val f = fs(s, root)
    val in = f.open(p)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      val b = new Array[Byte](8192)
      var n = in.read(b)
      while (n >= 0) { buf.write(b, 0, n); n = in.read(b) }
      new String(buf.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
    val kv = scala.collection.mutable.Map[String, List[String]]()
    text.linesIterator.foreach { line =>
      val i = line.indexOf('=')
      if (i > 0) {
        val (k, v) = (line.substring(0, i), line.substring(i + 1))
        kv(k) = v :: kv.getOrElse(k, Nil)
      }
    }
    kv.view.mapValues(_.reverse.toSeq).toMap
  }

  private def splitCellPath(v: String): (String, Int) = {
    val t = v.indexOf('\t')
    (v.substring(t + 1), v.substring(0, t).toInt)
  }

  private def parseMeta(s: SparkSession, root: String, p: Path): Meta = {
    val kv = readLogFile(s, root, p)
    def one(k: String) = kv(k).head
    Meta(one("version").toLong, one("op"), one("model_gen").toLong,
      one("model_dir"), one("n_rows").toLong, one("cells").toInt,
      kv.contains("truncate"),
      kv.getOrElse("remove", Seq.empty),
      kv.getOrElse("add", Seq.empty).map(splitCellPath),
      for { a <- kv.get("txn_app").map(_.head)
            tv <- kv.get("txn_version").map(_.head) }
        yield (a, tv.toLong))
  }

  private def metaOf(s: SparkSession, root: String, v: Long): Meta =
    parseMeta(s, root, new Path(s"$root/log/${vName(v)}.commit"))

  private def readCheckpoint(s: SparkSession, root: String,
                             v: Long): State = {
    val kv = readLogFile(s, root,
      new Path(s"$root/log/${vName(v)}.checkpoint"))
    def one(k: String) = kv(k).head
    State(one("version").toLong, one("op"), one("model_gen").toLong,
      one("model_dir"), one("n_rows").toLong, one("cells").toInt,
      kv.getOrElse("file", Seq.empty).map(splitCellPath).toVector,
      kv.getOrElse("txnw", Seq.empty).map { t =>
        val i = t.indexOf('\t')
        t.substring(0, i) -> t.substring(i + 1).toLong
      }.toMap)
  }

  /** One listing of the log dir → (committed versions asc, checkpoint
    * versions asc). Listing is O(#log files) NAMES; only the
    * checkpoint + tail get PARSED. */
  private def listLog(s: SparkSession, root: String): (Seq[Long], Seq[Long]) = {
    val f = fs(s, root)
    val p = new Path(s"$root/log")
    if (!f.exists(p)) return (Seq.empty, Seq.empty)
    val names = f.listStatus(p).toSeq.map(_.getPath.getName)
    def vs(suffix: String) = names
      .filter(n => n.startsWith("v") && n.endsWith(suffix))
      .map(n => n.stripPrefix("v").stripSuffix(suffix).toLong)
      .sorted
    (vs(".commit"), vs(".checkpoint"))
  }

  /** Reconstruct the state at version `v`: the newest checkpoint at or
    * below `v` plus the delta tail — O([[CheckpointInterval]]) parses
    * for the live version however long the history is. Versions below
    * the first checkpoint replay from the chain head (time travel into
    * the pre-checkpoint past stays exact). */
  private def stateAt(s: SparkSession, root: String, v: Long,
                      ckpts: Seq[Long]): State = {
    val base = ckpts.filter(_ <= v).lastOption
      .map(cv => readCheckpoint(s, root, cv))
      .getOrElse(EmptyState)
    ((base.version + 1) to v).foldLeft(base) { (st, i) =>
      applyDelta(st, metaOf(s, root, i))
    }
  }

  private def liveState(s: SparkSession, root: String): State =
    liveBounded(s, root) match {
      case Some((v, ckpts)) => stateAt(s, root, v, ckpts)
      case None =>
        val (vs, ckpts) = listLog(s, root)
        val v = vs.lastOption.getOrElse(
          throw new IllegalStateException(s"empty index store at $root"))
        stateAt(s, root, v, ckpts)
    }

  private def snapOf(s: SparkSession, root: String, st: State): Snapshot = {
    val (cents, cb) = readModels(s, root, st.modelDir)
    Snapshot(st.version, st.op, st.modelGen, st.modelDir, st.nRows,
      st.cells, st.files.map(_._1), st.files.map(_._2), cents, cb)
  }

  /** Highest committed writer-transaction version for `appId`, or None
    * — the idempotent-sink lookup (Delta's txnAppId/txnVersion
    * pattern): a streaming writer stamps each commit with its
    * micro-batch id and skips batches at or below this watermark on
    * replay. Watermarks are CARRIED FORWARD into every checkpoint, so
    * the lookup parses one checkpoint + the delta tail — O(K) files —
    * instead of the whole log (the r15 form scanned every manifest,
    * O(V²) over a stream's life). */
  def lastTxnVersion(s: SparkSession, root: String,
                     appId: String): Option[Long] =
    liveBounded(s, root) match {
      case Some((v, ckpts)) => stateAt(s, root, v, ckpts).txnw.get(appId)
      case None =>
        val (vs, ckpts) = listLog(s, root)
        vs.lastOption.flatMap(v =>
          stateAt(s, root, v, ckpts).txnw.get(appId))
    }

  /** All committed versions, ascending (never rewritten → a reader's
    * listing is always a consistent prefix of history). */
  def versions(s: SparkSession, root: String): Seq[Long] =
    listLog(s, root)._1

  /** Committed checkpoint versions, ascending — exposed so tests and
    * audits can pin the cadence; readers discover checkpoints through
    * the same single log listing `open` uses. */
  def checkpoints(s: SparkSession, root: String): Seq[Long] =
    listLog(s, root)._2

  /** The LIVE snapshot: highest committed version. */
  def open(s: SparkSession, root: String): Snapshot =
    snapOf(s, root, liveState(s, root))

  /** A pinned historical snapshot (time travel) — consistent as long
    * as [[vacuum]]'s retention covers it. */
  def openVersion(s: SparkSession, root: String, v: Long): Snapshot = {
    val (_, ckpts) = listLog(s, root)
    snapOf(s, root, stateAt(s, root, v, ckpts))
  }

  /** Read a store-relative file list as code rows (leaf files — each
    * file's parent is its own base path, so no directory discovery
    * races with concurrent writers). */
  private def readFiles(s: SparkSession, root: String,
                        files: Seq[String]): DataFrame =
    if (files.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        CodesSchema)
    else s.read.schema(CodesSchema)
      .parquet(files.map(p => s"$root/$p"): _*)

  /** The snapshot's code rows — exactly its manifest's files. */
  def codes(s: SparkSession, root: String, snap: Snapshot): DataFrame =
    readFiles(s, root, snap.files)

  /** File-level pruning: only the files whose cell is in `wanted` —
    * the manifest-reader form of partition pruning (a probe passes its
    * nprobe cells and opens that many files, not the corpus). */
  def codesForCells(s: SparkSession, root: String, snap: Snapshot,
                    wanted: Set[Int]): DataFrame =
    readFiles(s, root, snap.files.zip(snap.fileCells)
      .collect { case (p, c) if wanted(c) => p })

  // ---- the four mutations + rebuild ----

  /** Run one optimistic-concurrency mutation: reconstruct the live
    * state, compute + write this attempt's delta, try the commit; on a
    * lost race re-open the NEW parent and recompute (the lost
    * attempt's episode dir is unreferenced garbage for [[vacuum]]).
    * `attempt` returns None to declare the mutation a no-op against
    * the current parent (e.g. a replayed transaction at/below the
    * watermark) — the live snapshot is returned unchanged. */
  private def mutate(s: SparkSession, root: String, what: String)
                    (attempt: State => Option[(Meta, State)]): Snapshot = {
    var tries = 0
    while (tries < MaxCommitRetries) {
      tries += 1
      val parent = liveState(s, root)
      attempt(parent) match {
        case None =>
          lastMutationTries.set(tries)
          return snapOf(s, root, parent)
        case Some((m, st)) =>
          if (commitDelta(s, root, m, st)) {
            lastMutationTries.set(tries)
            return snapOf(s, root, st)
          }
      }
    }
    throw new IllegalStateException(
      s"$what at $root lost $MaxCommitRetries commit races; giving up")
  }

  /** Initialize the store: train models at the corpus-count cell
    * policy, encode, publish v1. Unlike the mutators, a lost v1 race
    * is NOT retried — two independent `build`s of one root is a
    * deployment bug, not contention, and the loser must hear it.
    * `cellsOverride` lets bench-sized gates build at a smaller cell
    * count (the `ivfPqCompactGate` precedent: the flags those gates
    * pin are cell-count-independent while episode wall-clock is
    * mostly per-cell file metadata); production callers take the
    * corpus-count policy. */
  def build(s: SparkSession, root: String, emb: DataFrame,
            cellsOverride: Option[Int] = None): Snapshot = {
    // corpus count: only the cell POLICY needs it up front — with an
    // override the count rides the episode write's observed metrics
    // (one job instead of two). Degenerate corpora (too small to
    // train: empty index, nonzero corpus) keep the corpus-count
    // semantics of nRows via the explicit fallback count.
    val n0 = if (cellsOverride.isDefined) -1L else emb.count()
    val cells = cellsOverride.getOrElse(Similarity.scaledCells(n0))
    val (cents, cb, index) = Similarity.ivfPqIndex(emb, cells)
    val mDir = writeModels(s, root, 1L, cents, cb)
    val (_, files, nIdx) = writeEpisodeCounted(s, root, 1L, index)
    val n =
      if (cents.nonEmpty) nIdx
      else if (n0 >= 0L) n0
      else emb.count()
    val m = Meta(1L, "build", 1L, mDir, n, cells,
      truncate = true, Seq.empty, files, None)
    require(commitDelta(s, root, m, applyDelta(EmptyState, m)),
      s"store at $root already initialized")
    openVersion(s, root, 1L)
  }

  /** Partition-append an increment under the live snapshot's FROZEN
    * models: writes ONLY the increment's files and commits ONLY their
    * `add` entries — the parent's list is inherited by the delta
    * semantics, never re-serialized. A lost commit race re-encodes
    * against the new parent (whose model generation may have moved)
    * and retries.
    *
    * `noopOnEmpty = true` (the streaming sinks' form) makes an EMPTY
    * increment commit-free: the live snapshot is returned untouched
    * instead of burning a version on a zero-row episode. Decided from
    * the count this method already takes — the sinks previously paid
    * a separate `isEmpty` Spark job per micro-batch for the same
    * decision. Default false: the manifest gate's oracle pins that
    * explicit batch mutations commit even on empty corpora. */
  def append(s: SparkSession, root: String, newEmb: DataFrame,
             txn: Option[(String, Long)] = None,
             noopOnEmpty: Boolean = false): Snapshot =
    mutate(s, root, "append") { parent =>
      // idempotent-sink guard: a replayed micro-batch (same appId,
      // batch version <= the committed watermark) must NOT re-append —
      // append duplicates rows where forget's replay was naturally
      // idempotent. Checked against the SAME parent state the commit
      // races on, so a lost race re-checks before re-encoding.
      if (txn.exists { case (app, tv) =>
            parent.txnw.get(app).exists(tv <= _) }) None
      else {
        val v = parent.version + 1
        val (cents, cb) = readModels(s, root, parent.modelDir)
        val rows = Similarity.ivfPqAppend(cents, cb, newEmb)
        // the increment's count rides the episode write's observed
        // metrics — the sinks previously paid a count() job per
        // micro-batch for the same number. An empty noopOnEmpty
        // increment deletes its file-less episode dir (a filesystem
        // call, no Spark job) so no orphan dir outlives the no-op.
        val (rel, newFiles, nNew) = writeEpisodeCounted(s, root, v, rows)
        if (noopOnEmpty && nNew == 0L) {
          fs(s, root).delete(new Path(s"$root/$rel"), true)
          None
        } else {
          val m = Meta(v, "append", parent.modelGen, parent.modelDir,
            parent.nRows + nNew, parent.cells,
            truncate = false, Seq.empty, newFiles, txn)
          Some((m, applyDelta(parent, m)))
        }
      }
    }

  /** Compact the live snapshot: shuffle by cell, rewrite one file per
    * occupied cell, swap the WHOLE file list (`truncate` + adds) —
    * content-identical, codes never recomputed. Readers of older
    * versions keep their files (immutable) until vacuum. */
  def compact(s: SparkSession, root: String): Snapshot =
    mutate(s, root, "compact") { parent =>
      val v = parent.version + 1
      val newFiles = writeEpisode(s, root, v,
        readFiles(s, root, parent.files.map(_._1)))
      val m = Meta(v, "compact", parent.modelGen, parent.modelDir,
        parent.nRows, parent.cells,
        truncate = true, Seq.empty, newFiles, None)
      Some((m, applyDelta(parent, m)))
    }

  /** Compaction POLICY on top of the [[compact]] verb: read the live
    * manifest's per-file cells (already in memory — no file IO beyond
    * the log), compact only when the mean file count per occupied
    * cell has reached `filesPerCell`. Below the threshold the store
    * is untouched — same version, no commit, provable no-op. Returns
    * (live-after, fired). The small-files pathology this prices: each
    * append adds ≥1 file per touched cell, so a probe's per-cell open
    * cost grows with ingest count until a compact swaps the list;
    * `filesPerCell` is the tolerated read amplification. */
  def maybeCompact(s: SparkSession, root: String,
                   filesPerCell: Double = 4.0): (Snapshot, Boolean) = {
    val snap = open(s, root)
    val occupied = snap.fileCells.distinct.size
    if (occupied == 0 || snap.files.size.toDouble / occupied < filesPerCell)
      (snap, false)
    else (compact(s, root), true)
  }

  /** Right-to-be-forgotten against the STORE: rewrite ONLY the files
    * of cells that actually hold doomed rows (the deleted set's cell
    * footprint — bounded by the erasure request, never a full
    * rewrite); every other file is inherited by the delta semantics.
    * Idempotent: forgetting already-absent ids touches no cell and
    * commits a content-identical snapshot — the property the streamed
    * erasure path's replay correctness rests on.
    *
    * `noopOnEmpty = true` (the streaming sinks' form) makes a forget
    * that touches NO cell (empty request, or every id already absent)
    * commit-free instead of burning a version on an empty delta —
    * decided from the doomed-cell footprint this method computes
    * anyway, so the sinks drop their per-micro-batch `isEmpty` probe
    * job. Default false: explicit batch forgets keep the committed
    * content-identical-version contract the manifest gate's oracle
    * pins. */
  def forget(s: SparkSession, root: String,
             deletedIds: DataFrame,
             noopOnEmpty: Boolean = false): Snapshot = {
    val del = deletedIds.select(col("vec_id").as("nn_id")).distinct()
    mutate(s, root, "forget") { parent =>
      val v = parent.version + 1
      val all = readFiles(s, root, parent.files.map(_._1))
      // doomed count + doomed CELL set in ONE pass over the store (the
      // cell set is ≤ cells ints — driver-bounded): a second action
      // here would re-open every snapshot file
      val hit = all.join(del, Seq("nn_id"), "left_semi")
        .agg(count(lit(1)), collect_set(col("cell"))).head()
      val nDel = hit.getLong(0)
      val doomedCells = hit.getSeq[Int](1).toSet
      if (noopOnEmpty && doomedCells.isEmpty) None
      else {
        val removes = parent.files
          .collect { case (p, c) if doomedCells(c) => p }
        val rewritten =
          if (doomedCells.isEmpty) Seq.empty[(String, Int)]
          else writeEpisode(s, root, v,
            readFiles(s, root, removes).join(del, Seq("nn_id"), "left_anti"))
        val m = Meta(v, "forget", parent.modelGen, parent.modelDir,
          parent.nRows - nDel, parent.cells,
          truncate = false, removes, rewritten, None)
        Some((m, applyDelta(parent, m)))
      }
    }
  }

  /** Full re-provision under a NEW model generation (the reindex
    * trigger's action): retrain at the current corpus count, re-encode,
    * publish — older snapshots keep serving their own generation. The
    * trained artifact is computed ONCE; only the generation stamp,
    * model dir and episode re-derive on a lost race. `cellsOverride`
    * mirrors [[build]]'s: bench-sized gates re-provision at a smaller
    * cell count; production callers take the corpus-count policy. */
  def rebuild(s: SparkSession, root: String, emb: DataFrame,
              cellsOverride: Option[Int] = None): Snapshot = {
    // same count discipline as [[build]]: the cell policy may need the
    // corpus count up front; otherwise it rides the episode write
    val n0 = if (cellsOverride.isDefined) -1L else emb.count()
    val cells = cellsOverride.getOrElse(Similarity.scaledCells(n0))
    val (cents, cb, index) = Similarity.ivfPqIndex(emb, cells)
    mutate(s, root, "rebuild") { parent =>
      val v = parent.version + 1
      val gen = parent.modelGen + 1
      val mDir = writeModels(s, root, gen, cents, cb)
      val (_, files, nIdx) = writeEpisodeCounted(s, root, v, index)
      val n =
        if (cents.nonEmpty) nIdx
        else if (n0 >= 0L) n0
        else emb.count()
      val m = Meta(v, "rebuild", gen, mDir, n, cells,
        truncate = true, Seq.empty, files, None)
      Some((m, applyDelta(parent, m)))
    }
  }

  /** Physical cleanup: delete data files referenced by NO retained
    * version (the last `retainLast` commits) and model generations no
    * retained version serves. Log files are never deleted (they are
    * the history; bytes are trivial). Two PROTECTION arms shield
    * concurrent writers (the Delta VACUUM discipline):
    *
    *  - VERSION arm: an episode/model dir whose encoded target version
    *    (generation) exceeds the highest committed one belongs to an
    *    IN-FLIGHT commit — its writer has written data but not yet
    *    renamed its manifest — and is never touched. (A dir at or
    *    below the committed horizon that no retained manifest
    *    references is a LOST attempt: its writer's retry wrote a fresh
    *    attempt-unique dir, so the orphan is safe to reap.)
    *  - AGE arm: dirs younger than `minAgeMs` survive regardless —
    *    time-based retention for writers whose target version cannot
    *    be decided (e.g. a build racing on v1, whose target version 1
    *    is already at the committed horizon the moment any commit
    *    lands). Defaults to [[DefaultVacuumMinAgeMs]] (24 h, Delta's
    *    safety-by-default stance); gates and tests that vacuum a
    *    store they just wrote pass `0L` explicitly.
    *
    * Pinned readers older than the retention window break — the
    * documented contract, same as any table format. Returns (data
    * entries removed — one per whole episode dir or stray file, model
    * gens removed). */
  def vacuum(s: SparkSession, root: String,
             retainLast: Int = 2,
             minAgeMs: Long = DefaultVacuumMinAgeMs): (Long, Long) = {
    val f = fs(s, root)
    val (vs, ckpts) = listLog(s, root)
    if (vs.isEmpty) return (0L, 0L)
    val maxV = vs.last
    // ONE replay pass for the whole retained window: reconstruct the
    // oldest retained version from its best checkpoint, then roll the
    // deltas forward collecting each retained state — never
    // O(versions × files)
    val retainedVs = vs.takeRight(math.max(retainLast, 1))
    var st = stateAt(s, root, retainedVs.head, ckpts)
    val retained = Seq.newBuilder[State]
    retained += st
    ((retainedVs.head + 1) to maxV).foreach { i =>
      st = applyDelta(st, metaOf(s, root, i))
      if (retainedVs.contains(i)) retained += st
    }
    val retainedStates = retained.result()
    val liveFiles = retainedStates.flatMap(_.files.map(_._1)).toSet
    val liveModelDirs = retainedStates.map(_.modelDir).toSet
    val maxGen = st.modelGen // generations only grow
    val now = System.currentTimeMillis()
    def protectedDir(status: org.apache.hadoop.fs.FileStatus,
                     prefix: Char, committedMax: Long): Boolean = {
      val name = status.getPath.getName
      val encoded = name.takeWhile(_ != '-').stripPrefix(prefix.toString)
      val target = encoded.toLongOption.getOrElse(Long.MaxValue)
      target > committedMax ||
        (minAgeMs > 0L && now - status.getModificationTime < minAgeMs)
    }
    var removedF = 0L
    val dataRoot = new Path(s"$root/data")
    if (f.exists(dataRoot)) {
      val rootQ = f.makeQualified(new Path(root)).toString
      // fully-unreferenced episode dirs are decided from the MANIFESTS
      // alone and removed with one recursive delete each — never
      // listed (a flat list-then-delete sweep measured ~10 s at the
      // 10× stress purely on small-file stat/unlink round trips);
      // only episodes some retained snapshot still references get a
      // per-file pass
      val liveEpisodes = liveFiles.map(_.split('/').take(2).mkString("/"))
      f.listStatus(dataRoot).foreach { ep =>
        val epRel = s"data/${ep.getPath.getName}"
        if (!liveEpisodes(epRel)) {
          if (!protectedDir(ep, 'v', maxV)) {
            if (f.delete(ep.getPath, true)) removedF += 1
          }
        } else {
          val it = f.listFiles(ep.getPath, true)
          val doomed = Seq.newBuilder[Path]
          while (it.hasNext) {
            val p = it.next().getPath
            val rel = p.toString.stripPrefix(rootQ).stripPrefix("/")
            if (p.getName.startsWith("part-") && !liveFiles(rel))
              doomed += p
          }
          doomed.result().foreach { p =>
            if (f.delete(p, false)) removedF += 1
          }
        }
      }
    }
    var removedG = 0L
    val modelsRoot = new Path(s"$root/models")
    if (f.exists(modelsRoot)) {
      f.listStatus(modelsRoot).foreach { gdir =>
        val rel = s"models/${gdir.getPath.getName}"
        if (!liveModelDirs(rel) && !protectedDir(gdir, 'g', maxGen)) {
          if (f.delete(gdir.getPath, true)) {
            removedG += 1
            // a reaped generation must also leave the per-JVM cache:
            // a stale entry would let a warm JVM keep reading a
            // vacuumed version a cold JVM correctly fails on
            modelCache.remove(s"$root/$rel")
            modelLru.remove(s"$root/$rel")
            ()
          }
        }
      }
    }
    (removedF, removedG)
  }
}
