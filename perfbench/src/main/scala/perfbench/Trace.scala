package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** One benchmark-side span: a call the harness makes into a layer of the
  * library. `start`/`end` are milliseconds on the monotonic clock, for
  * durations; `wallStart`/`wallEnd` are epoch milliseconds, the clock
  * Spark's listener events carry, for placing jobs and stages inside
  * spans (the two clocks can drift apart, e.g. across a VM pause). */
final case class Span(id: Int, parent: Int, run: String, pass: Int,
                      name: String, layer: String, start: Double,
                      wallStart: Long, var end: Double, var wallEnd: Long)

/** Spans, plus the Spark-side records a traced pass collects: jobs and
  * stages from a [[SparkListener]], Catalyst phase times from a
  * [[QueryExecutionListener]]. Everything stays in memory and is written
  * once at the end of the run. With tracing off, [[span]] only runs its
  * body and no listener is registered. */
final class Tracer(spark: SparkSession, runId: String) {
  private val sc: SparkContext = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0
  private var pass = -1
  @volatile private var on = false

  private def nowMs: Double = System.nanoTime() / 1e6

  private val jobs = ArrayBuffer.empty[String]
  private val stages = ArrayBuffer.empty[String]
  private val queries = ArrayBuffer.empty[String]
  private val taskTimes =
    scala.collection.mutable.HashMap.empty[(Int, Int), ArrayBuffer[Long]]
  private val jobStarts = scala.collection.mutable.HashMap.empty[Int, Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.synchronized { jobStarts(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val st = jobStarts.synchronized(jobStarts.remove(e.jobId))
      st.foreach { t =>
        jobs.synchronized {
          jobs += s"""{"job":${e.jobId},"start":$t,"end":${e.time}}"""
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null) taskTimes.synchronized {
        taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId),
          ArrayBuffer.empty[Long]) += e.taskInfo.duration
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val durs = taskTimes.synchronized(
        taskTimes.remove((i.stageId, i.attemptNumber())))
        .getOrElse(ArrayBuffer.empty[Long]).sorted
      val m = i.taskMetrics
      val sr = m.shuffleReadMetrics
      val sw = m.shuffleWriteMetrics
      val maxT = if (durs.isEmpty) 0L else durs.last
      val medT = if (durs.isEmpty) 0L else durs(durs.size / 2)
      val sub = i.submissionTime.getOrElse(0L)
      val done = i.completionTime.getOrElse(sub)
      stages.synchronized {
        stages += s"""{"stage":${i.stageId},"start":$sub,"end":$done,""" +
          s""""tasks":${durs.size},"run_ms":${m.executorRunTime},""" +
          s""""cpu_ns":${m.executorCpuTime},"gc_ms":${m.jvmGCTime},""" +
          s""""in_bytes":${m.inputMetrics.bytesRead},""" +
          s""""in_records":${m.inputMetrics.recordsRead},""" +
          s""""out_bytes":${m.outputMetrics.bytesWritten},""" +
          s""""sw_bytes":${sw.bytesWritten},""" +
          s""""sw_records":${sw.recordsWritten},""" +
          s""""sr_bytes":${sr.localBytesRead + sr.remoteBytesRead},""" +
          s""""fetch_wait_ms":${sr.fetchWaitTime},""" +
          s""""spill_mem":${m.memoryBytesSpilled},""" +
          s""""spill_disk":${m.diskBytesSpilled},""" +
          s""""task_max_ms":$maxT,"task_med_ms":$medT}"""
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      def d(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      queries.synchronized {
        queries += s"""{"start":$start,"analysis_ms":${d("analysis")},""" +
          s""""optimization_ms":${d("optimization")},""" +
          s""""planning_ms":${d("planning")}}"""
      }
    }
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = ()
  }

  def tracing: Boolean = on

  /** Turn tracing on for the passes that follow (listeners attached). */
  def start(): Unit = if (!on) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  /** Turn tracing off: drain the listener bus first, so every event of
    * the traced work has been recorded, then detach the listeners. */
  def stop(): Unit = if (on) {
    drainListenerBus()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    on = false
  }

  private def drainListenerBus(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    ()
  }

  def beginPass(p: Int): Unit = pass = p

  /** Run `body` inside a span named `name` of layer `layer`. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = Span(nextId, parent, runId, pass, name, layer, nowMs,
        System.currentTimeMillis(), 0.0, 0L)
      nextId += 1
      spans += s
      stack = s :: stack
      try body
      finally {
        s.end = nowMs
        s.wallEnd = System.currentTimeMillis()
        stack = stack.tail
      }
    }

  /** Write spans, jobs, stages and query phases as JSON lines. */
  def write(dir: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    Files.createDirectories(dir)
    def lines(name: String, ls: Iterable[String]): Unit = {
      Files.write(dir.resolve(name), ls.mkString("", "\n", "\n")
        .getBytes("UTF-8"))
      ()
    }
    lines("spans.jsonl", spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"run":"${s.run}",""" +
        s""""pass":${s.pass},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""start":${s.start},"end":${s.end},""" +
        s""""wstart":${s.wallStart},"wend":${s.wallEnd}}"""))
    lines("jobs.jsonl", jobs.synchronized(jobs.toList))
    lines("stages.jsonl", stages.synchronized(stages.toList))
    lines("queries.jsonl", queries.synchronized(queries.toList))
  }
}
