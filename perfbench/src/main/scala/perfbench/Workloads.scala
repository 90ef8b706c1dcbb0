package perfbench

import graft.SparkEntry
import graft.operators.{Graph, Similarity, WordCount}
import graft.sources.{IndexStore, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Io {
  def writeLines(p: Path, lines: Iterable[String]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, lines.asJava)
    ()
  }
  def readLines(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.toSeq

  /** Bytes of every regular file under `root`. */
  def du(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally st.close()
    }
}

/** The paper's job: a directory of `.txt` files, word-counted in both
  * case modes, the top-k words, the `"{word} {count}"` text sink, and
  * lookups of a few words read back from the committed sink. */
final class WordCountWorkload(spark: SparkSession, in: Path, out: Path,
                              tr: Tracer, rec: Recorder)
    extends Workload(spark, in, out, tr, rec) {
  private val corpus = in.resolve("wordcount/corpus").toString
  private val k = Io.readLines(in.resolve("wordcount/k.txt")).head.trim.toInt
  private val probeWords =
    Io.readLines(in.resolve("wordcount/probe.txt")).map(_.trim).filter(_.nonEmpty)
  private val held = mutable.Map.empty[
    Int, (Array[Row], Array[Row], Array[Row], Array[Array[Row]])]

  // a pass is a few seconds, and a fresh JVM takes about five passes to
  // reach its steady pass time: four untimed passes, then the median of
  // at least three timed ones
  override def warmups: Int = 4
  override def minTimed: Int = 3

  private def counts(lines: DataFrame, caseSensitive: Boolean): Array[Row] = {
    val df = tr.span("WordCount.wordCount", "entry")(
      WordCount.wordCount(lines, "line", caseSensitive))
    tr.span("collect", "action")(df.collect())
  }

  def pass(p: Int): Unit = {
    val sink = out.resolve(s"wordcount/pass-$p/sink").toString
    val lines = tr.span("Tables.textDir", "scan")(
      Tables.textDir(spark, corpus))
    val ci = rec.op("query", "wordcount_ci")(counts(lines, false))
    val cs = rec.op("query", "wordcount_cs")(counts(lines, true))
    val top = rec.op("query", "topk") {
      val df = tr.span("WordCount.topK", "entry")(
        WordCount.topK(lines, "line", k, caseSensitive = false))
      tr.span("collect", "action")(df.collect())
    }
    rec.op("append", "sink") {
      val df = tr.span("WordCount.wordCount", "entry")(
        WordCount.wordCount(lines, "line", caseSensitive = false))
      tr.span("write", "sink")(
        df.select(format_string("%s %d", col("word"), col("cnt")))
          .write.text(sink))
    }
    // point reads of the committed output, a batch of four words each
    val found = probeWords.grouped(4).toArray.map { words =>
      rec.op("probe", "lookup") {
        val df = tr.span("Tables.textDir", "scan")(Tables.textDir(spark, sink))
        tr.span("collect", "action")(
          df.select(substring_index(col("line"), " ", 1).as("word"),
              substring_index(col("line"), " ", -1).cast("long").as("cnt"))
            .where(col("word").isin(words: _*)).collect())
      }
    }
    held(p) = (ci, cs, top, found)
  }

  override def dump(p: Int): Unit = {
    val (ci, cs, top, found) = held.remove(p).get
    val dir = out.resolve(s"wordcount/pass-$p")
    def tsv(rows: Array[Row]) = rows.map(r => s"${r.getString(0)}\t${r.getLong(1)}")
    Io.writeLines(dir.resolve("ci.tsv"), tsv(ci))
    Io.writeLines(dir.resolve("cs.tsv"), tsv(cs))
    Io.writeLines(dir.resolve("topk.tsv"), tsv(top))
    Io.writeLines(dir.resolve("lookup.tsv"), found.toSeq.zipWithIndex.flatMap {
      case (rows, g) => tsv(rows).toSeq.map(l => s"$g\t$l") })
    Io.writeLines(dir.resolve("sink_bytes.txt"),
      Seq(Io.du(dir.resolve("sink")).toString))
  }
}

/** Short queries from [[SparkEntry.queries]]: every pass runs the
  * generator's list once, in its order. */
final class SqlWorkload(spark: SparkSession, in: Path, out: Path,
                        tr: Tracer, rec: Recorder)
    extends Workload(spark, in, out, tr, rec) {
  private val dir = in.resolve("sql/tables").toString
  private val names: Seq[String] =
    Io.readLines(in.resolve("sql/queries.txt")).head.split(" ").toSeq
  private val entries = SparkEntry.queries
  private val first = mutable.LinkedHashMap.empty[
    String, (Array[Row], org.apache.spark.sql.types.StructType)]
  private val firstFp = mutable.Map.empty[String, Int]

  private def fingerprint(rows: Array[Row]): Int =
    rows.map(_.toString).sorted.toSeq.hashCode

  def pass(p: Int): Unit =
    for (q <- names) {
      val answer = rec.op("query", q) {
        try {
          val df = tr.span(s"SparkEntry.$q", "entry")(entries(q)(spark, dir))
          Right((tr.span("collect", "action")(df.collect()), df.schema))
        } catch {
          case e: Exception => Left(e.toString.take(300))
        }
      }
      answer match {
        case Left(err) =>
          rec.verdict(s"error:$q", ok = false, err)
        case Right((rows, schema)) =>
          if (!first.contains(q)) first(q) = (rows, schema)
          // every later answer to the same query must equal the first
          // one, which the output check compares with the DuckDB oracle
          val fp = fingerprint(rows)
          if (firstFp.getOrElseUpdate(q, fp) != fp)
            rec.verdict(s"repeat:$q", ok = false, "answer differs from first")
      }
    }

  override def finish(): Unit = {
    first.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(out.resolve(s"sql/$q").toString)
    }
  }
}

/** The iterative engines and the versioned index store in one pass: the
  * NN-Descent k-NN graph, PageRank over its edges, IVF-PQ training, then
  * writes beside reads on one IndexStore: build, appends each followed by
  * a probe batch, compaction, forget and vacuum.
  * Every pass shifts the ids by a fresh offset, so the corpus
  * fingerprints differ and the model registries start cold. */
final class AnnLifecycleWorkload(spark: SparkSession, in: Path, out: Path,
                                 tr: Tracer, rec: Recorder)
    extends Workload(spark, in, out, tr, rec) {
  private val dir = in.resolve("ann")
  private val params = Io.readLines(dir.resolve("params.txt"))
    .map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
  private val knnK = params("k").toInt
  private val prIters = params("pagerank_iters").toInt
  private val nnIters = params("nndescent_iters").toInt
  private val dim = params("dim").toInt
  private val filesPerCell = params("compact_files_per_cell").toDouble
  private val stride = params("id_stride").toLong
  private val nAppends = params("appends").toInt
  // the library's own sizing policies for a store of this size
  private val cells = Similarity.benchSizedCells(params("n_base").toLong)
  private val rerank = Similarity.scaledRerank(params("n_total").toLong)
  private val nprobe =
    Similarity.scaledNprobe(params("n_total").toLong, cells, rerank)
  private val held = mutable.Map.empty[Int, Map[String, Seq[String]]]

  private var base: DataFrame = _
  private var incs: Seq[DataFrame] = _
  private var queries: DataFrame = _
  private var doomed: DataFrame = _
  // the raw vectors the probe after each append re-ranks
  private var lives: Seq[DataFrame] = _

  private def read(name: String, off: Long, id: String): DataFrame = {
    val df = spark.read.parquet(dir.resolve(name).toString)
    df.select(df.columns.map(c =>
      if (c == id) (col(c) + off).as(c) else col(c)).toIndexedSeq: _*)
  }

  override def prepare(p: Int): Unit = {
    val off = p.toLong * stride
    base = read("base.parquet", off, "vec_id")
    incs = (0 until nAppends).map(i => read(s"append-$i.parquet", off, "vec_id"))
    doomed = read("forget.parquet", off, "vec_id")
    queries = read("queries.parquet", 0L, "vec_id")
    lives = incs.scanLeft(base)(_ unionByName _).tail
  }

  def pass(p: Int): Unit = {
    val off = p.toLong * stride
    val root = out.resolve(s"ann/pass-$p/store").toString
    val lines = mutable.Map.empty[String, mutable.ArrayBuffer[String]]
    def note(file: String, line: String): Unit =
      lines.getOrElseUpdate(file, mutable.ArrayBuffer.empty) += line
    def minus(id: Long) = id - off

    val (graph, edges) = rec.op("engine", "nndescent") {
      val df = tr.span("Similarity.knnGraphNnDescent", "entry")(
        Similarity.knnGraphNnDescent(base, knnK, iters = nnIters,
          initRounds = 4, bucketSize = 8, buildK = 0, seed = 41L,
          rho = 0.0))
      (df, tr.span("collect", "action")(
        df.select("query_id", "nn_id", "rn").collect()))
    }
    edges.foreach(r => note("knn.tsv",
      s"${minus(r.getLong(0))}\t${minus(r.getLong(1))}\t${r.getInt(2)}"))
    val ranks = rec.op("engine", "pagerank") {
      val df = tr.span("Graph.pageRank", "entry")(
        Graph.pageRank(graph.select(col("query_id").as("src"),
          col("nn_id").as("dst")), prIters))
      tr.span("collect", "action")(df.collect())
    }
    ranks.foreach(r => note("pagerank.tsv",
      s"${minus(r.getLong(0))}\t${r.getLong(1)}"))
    // the trainer on its own: build() then finds the trained artifact in
    // the model registry, so its wall is the commit's
    val trained = rec.op("engine", "train") {
      val (_, _, idx) = tr.span("Similarity.ivfPqIndex", "entry")(
        Similarity.ivfPqIndex(base, cells))
      tr.span("collect", "action")(
        idx.agg(count(lit(1)), countDistinct(col("nn_id")),
          min(size(col("codes"))), max(size(col("codes")))).head())
    }
    note("train.tsv", (0 until 4).map(i => trained.get(i).toString)
      .mkString("\t"))

    def counted(label: String, snap: IndexStore.Snapshot): Unit = {
      val n = rec.check(IndexStore.codes(spark, root, snap).count())
      note("versions.tsv", s"$label\t${snap.version}\t${snap.nRows}\t$n")
    }
    def probe(label: String, live: DataFrame): Unit = {
      val rows = rec.op("probe", "probe") {
        val snap = tr.span("IndexStore.open", "store")(
          IndexStore.open(spark, root))
        val codes = tr.span("IndexStore.codes", "entry")(
          IndexStore.codes(spark, root, snap))
        val df = tr.span("Similarity.knnIvfPqServe", "entry")(
          Similarity.knnIvfPqServe(live, codes, snap.cents, snap.cb,
            queries, knnK, nprobe, rerank))
        tr.span("collect", "action")(
          df.select("query_id", "nn_id", "rn").collect())
      }
      rows.foreach(r => note("probes.tsv",
        s"$label\t${r.getLong(0)}\t${minus(r.getLong(1))}\t${r.getInt(2)}"))
    }

    counted("build", rec.op("commit", "build")(
      tr.span("IndexStore.build", "store")(
        IndexStore.build(spark, root, base, Some(cells)))))
    for (i <- 0 until nAppends) {
      counted(s"append-$i", rec.op("append", "append")(
        tr.span("IndexStore.append", "store")(
          IndexStore.append(spark, root, incs(i)))))
      probe(s"append-$i", lives(i))
    }
    val (vc, fired) = rec.op("commit", "compact")(
      tr.span("IndexStore.maybeCompact", "store")(
        IndexStore.maybeCompact(spark, root, filesPerCell)))
    counted("compact", vc)
    note("events.tsv", s"compact_fired\t$fired")
    val vf = rec.op("commit", "forget")(tr.span("IndexStore.forget", "store")(
      IndexStore.forget(spark, root, doomed)))
    counted("forget", vf)
    val left = rec.check(IndexStore.codes(spark, root, vf)
      .join(doomed.select(col("vec_id").as("nn_id")), Seq("nn_id"),
        "left_semi").count())
    note("events.tsv", s"forgotten_left\t$left")
    rec.op("commit", "vacuum")(tr.span("IndexStore.vacuum", "store")(
      IndexStore.vacuum(spark, root, retainLast = 1, minAgeMs = 0L)))
    rec.check {
      // bytes on disk under the store root per byte of live user vectors
      val snap = IndexStore.open(spark, root)
      val bytes = Io.du(java.nio.file.Paths.get(root))
      note("events.tsv", s"store_amp\t${bytes / (snap.nRows.toDouble * dim * 4)}")
      note("events.tsv", s"files\t${snap.files.size}")
      note("events.tsv",
        s"versions\t${IndexStore.versions(spark, root).size}")
    }
    held(p) = lines.view.mapValues(_.toSeq).toMap
  }

  override def dump(p: Int): Unit =
    held.remove(p).get.foreach { case (name, ls) =>
      Io.writeLines(out.resolve(s"ann/pass-$p/$name"), ls)
    }
}

/** The interactive and iterative half of the library in one pass: the
  * SparkEntry queries, then the ANN engines and the index-store
  * lifecycle. */
final class PipelineWorkload(spark: SparkSession, in: Path, out: Path,
                             tr: Tracer, rec: Recorder)
    extends Workload(spark, in, out, tr, rec) {
  private val sql = new SqlWorkload(spark, in, out, tr, rec)
  private val ann = new AnnLifecycleWorkload(spark, in, out, tr, rec)
  override def prepare(p: Int): Unit = ann.prepare(p)
  def pass(p: Int): Unit = { sql.pass(p); ann.pass(p) }
  override def dump(p: Int): Unit = ann.dump(p)
  override def finish(): Unit = sql.finish()
}
