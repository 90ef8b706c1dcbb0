package graft.tools

/** Targeted query timer for optimization iteration: runs each named
  * query through the noop sink `SPARK_GRAFT_TQ_REPS` times (default 3)
  * and prints per-rep seconds + min. Unlike Bench it skips the full
  * warmup set (only a small scan warmup), so absolute numbers carry
  * cold-cache costs for registry-backed queries — use it for BEFORE/
  * AFTER deltas on the same query under the same process shape, not for
  * anchor numbers.
  *
  * With SPARK_GRAFT_TQ_JOBLOG set, every job is printed to stderr with
  * its wall and call site (`[tqjob]`), and after each rep the query's
  * jobs are counted per call site (`[tqsite]`, stdout) — the sub-100 ms
  * jobs of an iterative loop are exactly the ones a wall filter hides.
  *
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_TQ_REPS,
  * SPARK_GRAFT_TQ_JOBLOG.
  * Args: query names.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    graft.catalog.Catalog.lookup(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_TQ_REPS", "3").toInt
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // job/task accounting: is a slow query many tiny jobs (fixed
    // scheduling overhead) or real task compute? jobs + sum of task time
    // per measured query tells which lever applies (guide §1.1).
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val taskMs = new java.util.concurrent.atomic.AtomicLong()
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    val jobStarts =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    // an AQE stage job is submitted from a pool thread, so its own call
    // site names the pool; its SQL execution's call site names the caller
    val execSites = new java.util.concurrent.ConcurrentHashMap[String, String]()
    // jobs per call site since the last drain, in first-seen order
    val sites = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val logJobs = sys.env.contains("SPARK_GRAFT_TQ_JOBLOG")
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          if (logJobs) {
            val site = Option(j.properties)
              .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
              .flatMap(id => Option(execSites.get(id)))
              .getOrElse(j.stageInfos.lastOption.map(_.name).getOrElse("?"))
            jobStarts.put(j.jobId, (System.nanoTime(), site))
          }
          ()
        }
        override def onOtherEvent(
            e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
          case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
              if logJobs =>
            execSites.put(x.executionId.toString, x.description)
            ()
          case _ => ()
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          if (logJobs) {
            val st = jobStarts.remove(j.jobId)
            if (st != null) {
              val ms = (System.nanoTime() - st._1) / 1e6
              System.err.println(
                f"[tqjob] job ${j.jobId}%4d ${ms / 1000}%6.2f s  ${st._2}")
              sites.synchronized {
                sites(st._2) = sites.getOrElse(st._2, 0) + 1
              }
            }
          }
          ()
        }
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          tasks.incrementAndGet()
          if (t.taskMetrics != null)
            taskMs.addAndGet(t.taskMetrics.executorRunTime)
          ()
        }
      })
    def force(n: String): (Double, Long, Long, Long) = {
      val (j0, t0, k0) = (jobs.get(), taskMs.get(), tasks.get())
      val n0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - n0) / 1e9
      // listener delivery is async; a short sleep drains the bus well
      // enough for tool-grade accounting
      Thread.sleep(300)
      if (logJobs) sites.synchronized {
        for ((site, k) <- sites) println(f"[tqsite] $n%-28s $k%4d  $site")
        sites.clear()
      }
      (dt, jobs.get() - j0, taskMs.get() - t0, tasks.get() - k0)
    }
    force("pricing_summary")
    force("token_stats")
    args.foreach { n =>
      val rs = (1 to reps).map(_ => force(n))
      val best = rs.minBy(_._1)
      println(f"[timequery] $n%-28s min ${best._1}%7.2f s  " +
        f"jobs ${best._2}%4d  taskSum ${best._3 / 1000.0}%7.2f s  " +
        f"tasks ${best._4}%5d  " +
        rs.map(r => f"${r._1}%.2f").mkString("[", ", ", "]"))
    }
    spark.stop()
  }
}
