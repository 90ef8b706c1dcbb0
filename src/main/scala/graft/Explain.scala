package graft

/** Plan-audit helper: print the formatted plan of one SparkEntry query,
  * execute THAT DataFrame's QueryExecution, then print its final
  * (AQE-resolved) physical plan with runtime statistics baked in.
  * Pass `show` as the last argument to also print 20 sample rows.
  *
  *   sbt "runMain graft.Explain dedup_simhash_pairs /root/testdata/sf0.1"
  *   sbt "runMain graft.Explain wordcount_ci /root/testdata/sf0.001 show"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Explain <query> [sfDir] [show]")
    val name = args(0)
    val query = catalog.Catalog.lookup(Seq(name)).head
    val rest = args.drop(1)
    val show = rest.lastOption.contains("show")
    val dirArgs = if (show) rest.dropRight(1) else rest
    val dir = dirArgs.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = query.build(spark, dir)
    println(s"=== $name: optimized plan (pre-execution) ===")
    df.explain("formatted")
    // execute this df's OWN QueryExecution (a write.save() would plan a
    // fresh one, leaving df.queryExecution.executedPlan unexecuted and
    // isFinalPlan=false): toRdd + a noop action finalizes AQE in place
    val t0 = System.nanoTime()
    df.queryExecution.toRdd.foreachPartition(_ => ())
    println(f"=== executed in ${(System.nanoTime() - t0) / 1e9}%.2f s; " +
      "final adaptive plan ===")
    println(df.queryExecution.executedPlan.toString)
    if (show) df.show(20, truncate = false)
    spark.stop()
  }
}
