package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts — the job-budget specs' probe. */
object JobBudget {
  def jobsOf[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        n.incrementAndGet()
        ()
      }
    }
    sc.addSparkListener(l)
    try {
      val a = body
      ListenerBusDrain(sc)
      (a, n.get)
    } finally sc.removeSparkListener(l)
  }
}
