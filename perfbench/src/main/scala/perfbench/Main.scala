package perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** Records the closed loop's operations and passes, and the harness's own
  * output checks. One caller thread: an operation is submitted, its result
  * awaited, then the next is submitted. */
final case class Op(pass: Int, kind: String, name: String, s: Double,
                    traced: Boolean)
final case class PassRec(pass: Int, wallS: Double, traced: Boolean,
                         warmup: Boolean)
final case class Check(pass: Int, name: String, ok: Boolean, detail: String)

final class Recorder(tr: Tracer) {
  val ops = ArrayBuffer.empty[Op]
  val passes = ArrayBuffer.empty[PassRec]
  val checks = ArrayBuffer.empty[Check]
  private var pass = 0
  private var checkNs = 0L

  def beginPass(p: Int): Unit = { pass = p; checkNs = 0L }
  def checkSeconds: Double = checkNs / 1e9

  /** One closed-loop operation: its latency is the time to its result. */
  def op[T](kind: String, name: String)(body: => T): T = {
    val t = System.nanoTime()
    val r = tr.span(name, "op")(body)
    ops += Op(pass, kind, name, (System.nanoTime() - t) / 1e9, tr.tracing)
    r
  }

  /** Harness-side verification between operations; its time is not part
    * of the pass wall and its Spark jobs sit in a "check" span. */
  def check[T](body: => T): T = {
    val t = System.nanoTime()
    try tr.span("check", "check")(body)
    finally checkNs += System.nanoTime() - t
  }

  def verdict(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += Check(pass, name, ok, detail)
}

/** A workload: the same sequence of library calls in every pass. */
abstract class Workload(val spark: SparkSession, val in: Path,
                        val out: Path, val tr: Tracer, val rec: Recorder) {
  /** Build the pass's input frames (untimed: not part of any operation). */
  def prepare(p: Int): Unit = ()
  def pass(p: Int): Unit
  /** Untimed passes before timing starts. */
  def warmups: Int = 0
  /** Timed passes a run makes even when they take longer than its time. */
  def minTimed: Int = 1
  /** Write what the pass produced for the output checks (untimed). */
  def dump(p: Int): Unit = ()
  def finish(): Unit = ()
}

/** Writes `SparkEntry.oracleSql` as one JSON object, so the DuckDB oracle
  * can run outside the timed program. */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val body = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (n, q) => s"${Main.jstr(n)}:${Main.jstr(q)}" }
      .mkString(",")
    Files.write(Paths.get(args(0)), s"{$body}".getBytes("UTF-8"))
    ()
  }
}

object Main {
  private def arg(args: Array[String], k: String, dflt: String): String = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) args(i + 1) else dflt
  }

  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The set-up a user pays before the first operation: a GraftSession,
    * then its lazy set-up (Catalyst, code generation and the graft
    * extensions, a shuffle) finished by one small query. */
  private def setUp(tmp: Path): SparkSession = {
    val s = GraftSession.builder()
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .getOrCreate()
    s.range(0, 4096, 1, 4).selectExpr("id % 97 AS k")
      .groupBy("k").count().collect()
    s
  }

  private def peakRssKb(): Long =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .collectFirst { case l if l.startsWith("VmHWM:") =>
          l.split("\\s+")(1).toLong }.getOrElse(-1L)
    } catch { case _: Throwable => -1L }

  def main(args: Array[String]): Unit = {
    val t0Ns = arg(args, "--t0-ns", "0").toLong
    val workload = arg(args, "--workload", "")
    val in = Paths.get(arg(args, "--inputs", "inputs"))
    val out = Paths.get(arg(args, "--out", "out"))
    val seconds = arg(args, "--seconds", "10").toDouble
    val trace = arg(args, "--trace", "0") == "1"
    val runId = arg(args, "--run-id", "run")
    // no pass starts that would not end before this many seconds after t0
    val deadlineS = arg(args, "--deadline-s", "150").toDouble
    val tmp = out.resolve("tmp")
    Files.createDirectories(tmp)

    // the cold set-up a user pays once per process: from process start
    // (t0, taken just before the JVM was launched) to a ready session
    val spark = setUp(tmp)
    val setupS = (System.currentTimeMillis() * 1e6 - t0Ns) / 1e9

    val tr = new Tracer(spark, runId)
    val rec = new Recorder(tr)
    val w: Workload = workload match {
      case "wordcount" => new WordCountWorkload(spark, in, out, tr, rec)
      case "pipeline" => new PipelineWorkload(spark, in, out, tr, rec)
      case other => sys.error(s"unknown workload: $other")
    }

    def runPass(p: Int, traced: Boolean, warmup: Boolean): Unit = {
      w.prepare(p)
      if (traced) tr.start() else tr.stop()
      tr.beginPass(p)
      rec.beginPass(p)
      val t = System.nanoTime()
      tr.span("pass", "pass")(w.pass(p))
      val wall = (System.nanoTime() - t) / 1e9 - rec.checkSeconds
      rec.passes += PassRec(p, wall, traced, warmup)
      tr.stop()
      w.dump(p)
    }

    // a traced run warms up first, so that its traced and untraced
    // passes are compared warm
    val warmups = math.max(w.warmups, if (trace) 1 else 0)
    var p = 0
    while (p < warmups) { runPass(p, traced = false, warmup = true); p += 1 }
    // timed phase: whole passes until the time budget is spent. A traced
    // run interleaves traced and untraced passes as T U U T (at least
    // T U), so that the untraced ones give the tracing overhead in the
    // same window; with four or more passes a steady warm-up trend
    // cancels out of the comparison. Past the first timed pass, a pass
    // that would not end before the deadline, were it a quarter slower
    // than the pass before it, is not started.
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    def sinceT0 = (System.currentTimeMillis() * 1e6 - t0Ns) / 1e9
    def timed = rec.passes.count(!_.warmup)
    def fits = sinceT0 + 1.25 * rec.passes.last.wallS < deadlineS
    while (timed < 1 ||
           (timed < math.max(w.minTimed, if (trace) 2 else 1) ||
             elapsed < seconds) && fits) {
      val k = (p - warmups) % 4
      runPass(p, traced = trace && (k == 0 || k == 3), warmup = false)
      p += 1
    }
    w.finish()
    if (trace) tr.write(out.resolve("trace"))

    val sb = new StringBuilder
    sb ++= "{"
    sb ++= s""""setup_s":$setupS,"""
    sb ++= s""""peak_rss_kb":${peakRssKb()},"""
    sb ++= s""""timed_s":$elapsed,"""
    sb ++= "\"passes\":[" + rec.passes.map(r =>
      s"""{"pass":${r.pass},"wall_s":${r.wallS},"traced":${r.traced},""" +
        s""""warmup":${r.warmup}}""").mkString(",") + "],"
    sb ++= "\"ops\":[" + rec.ops.map(o =>
      s"""{"pass":${o.pass},"kind":${jstr(o.kind)},"name":${jstr(o.name)},""" +
        s""""s":${o.s},"traced":${o.traced}}""").mkString(",") + "],"
    sb ++= "\"checks\":[" + rec.checks.map(c =>
      s"""{"pass":${c.pass},"name":${jstr(c.name)},"ok":${c.ok},""" +
        s""""detail":${jstr(c.detail)}}""").mkString(",") + "]"
    sb ++= "}"
    Files.write(out.resolve("result.json"), sb.toString.getBytes("UTF-8"))
    spark.stop()
  }
}
