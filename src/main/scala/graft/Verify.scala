package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional `--only a,b,c` restricts the dump (local iteration only;
    // the driver always runs the full set)
    val only: Option[Set[String]] = args.sliding(2).collectFirst {
      case Array("--only", names) => names.split(",").toSet
    }
    only.foreach(ns => graft.catalog.Catalog.lookup(ns.toSeq.sorted))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // per-query output dtypes, dumped as schema.json so driver-side
    // tooling can diff Spark types against the oracle's without reading
    // the parquet footers back
    val schemas = scala.collection.mutable.LinkedHashMap[String, Seq[(String, String)]]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name.parquet")
        schemas(name) =
          df.schema.fields.toSeq.map(f => f.name -> f.dataType.catalogString)
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Emit every oracle under BOTH the bare query name and the
    // ".parquet"-suffixed result-directory name: the driver keys its
    // lookup by directory name (round-1 verdict — all 51 queries went
    // `no_oracle` on the suffixed key), while tools/check.py strips the
    // suffix. Dual keys satisfy both without guessing the exact lookup.
    val json = SparkEntry.oracleSql
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val schemaJson = schemas.map { case (n, fs) =>
      s"${q(n)}: " +
        fs.map { case (c, t) => s"${q(c)}: ${q(t)}" }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/schema.json"), schemaJson)
    spark.stop()
  }
}
