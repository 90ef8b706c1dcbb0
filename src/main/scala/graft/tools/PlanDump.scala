package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for declared queries to files — the
  * optimization-round evidence trail (plans/r<N>/<query>_<suffix>.txt).
  *
  * Driver-side only for declarative queries; episode gates (whose
  * DataFrame construction runs jobs eagerly) still dump the plan of the
  * RETURNED frame only, so for those TimeQuery's per-job log
  * (SPARK_GRAFT_TQ_JOBLOG) is the profiling tool, not this one.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_PLAN_DIR (default /root/repo/plans/r19),
  * SPARK_GRAFT_PLAN_SUFFIX (default "before").
  * Args: query names to dump (default: all declared queries).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val queries =
      if (args.nonEmpty) graft.catalog.Catalog.lookup(args.toSeq)
      else graft.catalog.Catalog.all.sortBy(_.name)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val outDir =
      sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "/root/repo/plans/r19")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    queries.foreach { q =>
      val n = q.name
      try {
        val df = q.build(spark, sfDir)
        val plan = df.queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[plandump] $n -> $outDir/${n}_$suffix.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n FAILED: $e")
      }
    }
    spark.stop()
  }
}
