package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Round bookkeeping for the iterative Spark operators: the star
  * closure, PageRank and NN-Descent. Each engine states its round 0,
  * its step and its `done` predicate; [[rounds]] owns the rest:
  *
  *   - Namespace: a run's resume store is `<resumeDir>/<op>-<key>`,
  *     where the key fingerprints the input and carries every parameter
  *     that shapes a round, so a restart over another input or other
  *     parameters never sees this run's rounds. The key is by-name and
  *     evaluated only when the resume knob is set: the default path runs
  *     no extra action.
  *   - Exclusion: of two concurrent runs over one namespace in this JVM
  *     (the dedup gates' two pair tiers agree exactly at full recall),
  *     the first owns the store and the other runs store-less — two
  *     writers on one round path would race.
  *   - Order: each round is materialized, snapshotted, read by `done`,
  *     and only then is its predecessor dropped, so `done` may compare
  *     the two. A resumed snapshot is materialized before the store is
  *     cleared under it, and the store is cleared when the loop
  *     finishes, so a stale final round never seeds a later run.
  *   - Refusal: a run that is not `done` within its `budget` of rounds
  *     fails a `require`, and a stored round numbered above the budget
  *     is refused and left in place — a fixed-round engine would
  *     otherwise return more sweeps than were asked for.
  *
  * Every round must materialize AND truncate its logical plan (see
  * Dedup.connectedComponentsStar's scaladoc for the exponential
  * analysis blowup without it), but WHERE it lands is a deployment
  * knob: by default `localCheckpoint(eager)` — executor-local blocks,
  * no extra I/O, reclaimed by the ContextCleaner; an executor loss
  * restarts the job. `spark.graft.checkpointDir=<dfs path>` makes each
  * round a reliable `Dataset.checkpoint(eager)` on the shared
  * filesystem, so a lost executor resumes from the last round instead
  * of recomputing hours of iterations. Nothing reclaims reliable round
  * files automatically, so [[rounds]] drops each one once it is
  * consumed. The knobs are runtime confs, not operator parameters: the
  * same pipeline code runs locally and on a cluster, with byte-identical
  * results (CheckpointSpec pins that, and that superseded round files
  * are deleted).
  */
object Checkpoints {

  /** Runtime conf key: set to a DFS path to switch every iterative
    * operator from localCheckpoint to reliable checkpoint. */
  val DirKey = "spark.graft.checkpointDir"

  /** The conf value last applied via setCheckpointDir — so a conf
    * CHANGE re-points the context instead of silently writing rounds to
    * the stale directory (the context keeps dir state per JVM). */
  private val applied =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Materialize `df` and truncate its lineage, per the session's
    * checkpoint policy. Eager in both modes.
    *
    * Reliable mode persists the frame around the checkpoint: a bare
    * `Dataset.checkpoint(eager=true)` computes the plan TWICE — once
    * for the eager count job and again for the checkpoint-write job
    * that re-runs the unpersisted RDD to produce the DFS files — so
    * every iteration of an iterative operator would pay ~2x compute.
    * Caching first means the write job reads the computed blocks; the
    * cache is dropped immediately after since the returned frame reads
    * the DFS copy from then on. */
  def materialize(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    s.conf.getOption(DirKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        if (applied.getAndSet(dir) != dir ||
            s.sparkContext.getCheckpointDir.isEmpty)
          s.sparkContext.setCheckpointDir(dir)
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try df.checkpoint(eager = true)
        finally { df.unpersist(blocking = false); () }
      case None => df.localCheckpoint(true)
    }
  }

  /** Materialize a SCRATCH frame: always `localCheckpoint`, regardless
    * of the reliable-checkpoint knob. For fan-out dedup inside a single
    * query whose RETURNED lazy plan keeps reading the materialized
    * frame — under the reliable knob such a frame could never be
    * dropped (no caller knows when the final consumer is done), so
    * every invocation would leak corpus-scale DFS files. The reliable
    * knob exists for ITERATION rounds, where the loop owns the
    * lifecycle; scratch materializations keep executor-local blocks the
    * ContextCleaner reclaims (jaccardVerifyPairs made the same call). */
  def scratch(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Runtime conf key: set to a DFS path to make iterative operators
    * RESUMABLE across driver restarts. Orthogonal to [[DirKey]]: the
    * reliable-checkpoint knob survives EXECUTOR loss within one run
    * (its ReliableCheckpointRDD files are only readable by the context
    * that wrote them), while the resume store survives the DRIVER —
    * each round is snapshotted as parquet under
    * `<resumeDir>/<op>-<key>/round-<n>`, and a restarted run picks up
    * from the highest complete round instead of recomputing from round
    * zero. Cost: one parquet write per round — worth it when a round is
    * expensive enough that recomputing all of them is worse. */
  val ResumeKey = "spark.graft.resumeDir"

  /** Resume stores (by name) of the round loops running in this JVM. */
  private val live = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Run an iterative operator's rounds. `init` is round 0: a plan the
    * driver materializes, or a frame the engine already materialized
    * (taken as is). `step(g, n)` plans round `n` from round `n - 1`;
    * `done(g, n)` is asked of every round the run holds, the first one
    * included, and the loop stops at the first yes or after `budget`
    * steps. A `None` key runs store-less. Returns the last round. */
  def rounds(op: String, key: => Option[String], budget: Int)(
      init: DataFrame)(step: (DataFrame, Int) => DataFrame)(
      done: (DataFrame, Int) => Boolean): DataFrame = {
    val s = init.sparkSession
    val store = resumeRoot(s).flatMap(_ => key).map(storeName(op, _))
      .filter(live.add)
    try {
      val stored = store.flatMap(completeRounds(s, _).maxByOption(_._1))
      var (n, g) = stored match {
        case Some((r, snap)) =>
          dropRound(init)
          require(r <= budget, s"resume store ${storePath(s, store.get)} " +
            s"holds round $r, beyond the $budget rounds $op was asked for")
          (r, materialize(s.read.parquet(snap.toString)))
        case None =>
          val g0 = if (checkpointScan(init).isDefined) init
                   else materialize(init)
          store.foreach(saveRound(g0, _, 0))
          (0, g0)
      }
      var fin = done(g, n)
      var ran = 0
      while (!fin && ran < budget) {
        val next = materialize(step(g, n + 1))
        n += 1
        ran += 1
        store.foreach(saveRound(next, _, n))
        fin = done(next, n)
        dropRound(g)
        g = next
      }
      require(fin, s"$op was not done after $budget rounds")
      store.foreach(st => delete(s, storePath(s, st)))
      g
    } finally store.foreach(live.remove)
  }

  /** Materialize a loop's invariant input, run the loop over it, and
    * drop it once the loop returns; the result must not read it. */
  def invariant[A](df: DataFrame)(loop: DataFrame => A): A = {
    val in = materialize(df)
    val out = loop(in)
    dropRound(in)
    out
  }

  /** Whether a run of `op` over `key` would resume from a stored round. */
  def resumable(s: SparkSession, op: String, key: String): Boolean =
    resumeRoot(s).isDefined && completeRounds(s, storeName(op, key)).nonEmpty

  /** The store directory name of `op` over `key`, under the resume dir. */
  private[graft] def storeName(op: String, key: String): String = s"$op-$key"

  private def resumeRoot(s: SparkSession): Option[String] =
    s.conf.getOption(ResumeKey).filter(_.nonEmpty)

  private def storePath(s: SparkSession, store: String): String =
    s"${resumeRoot(s).get}/$store"

  /** The store's complete rounds (parquet's _SUCCESS marker is the
    * commit, so a kill mid-write never yields a resume point). */
  private def completeRounds(s: SparkSession,
                             store: String): Seq[(Int, Path)] = {
    val root = new Path(storePath(s, store))
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("round-") &&
        fs.exists(new Path(p, "_SUCCESS")))
      .map(p => p.getName.stripPrefix("round-").toInt -> p)
  }

  /** Snapshot round `n` into `store` and delete round `n - 1` (a no-op
    * while the resume knob is unset). Call on a materialized frame, so
    * the write reads computed blocks. */
  private[graft] def saveRound(df: DataFrame, store: String, n: Int): Unit =
    resumeRoot(df.sparkSession).foreach { dir =>
      df.write.mode("overwrite").parquet(s"$dir/$store/round-$n")
      if (n > 0) delete(df.sparkSession, s"$dir/$store/round-${n - 1}")
    }

  private def delete(s: SparkSession, path: String): Unit = {
    val (p, conf) = (new Path(path), s.sparkContext.hadoopConfiguration)
    try { p.getFileSystem(conf).delete(p, true); () }
    catch { case _: java.io.IOException => () }
  }

  private def checkpointScan(df: DataFrame): Option[LogicalRDD] =
    df.queryExecution.analyzed match {
      case l: LogicalRDD if l.rdd.isCheckpointed => Some(l)
      case _ => None
    }

  /** Delete a consumed round's RELIABLE checkpoint files. No-op in
    * localCheckpoint mode (the ContextCleaner reclaims blocks) and on
    * frames that are not a bare checkpoint scan. */
  private[graft] def dropRound(df: DataFrame): Unit =
    checkpointScan(df).flatMap(_.rdd.getCheckpointFile)
      .foreach(delete(df.sparkSession, _))
}
