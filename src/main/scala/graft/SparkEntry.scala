package graft

import graft.catalog.{Catalog, GateTwin, Oracle, Query}
import graft.operators.WordCount
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7. The queries are declared once, with
  * their checks, in [[graft.catalog]]; the three maps here are views of
  * that catalog. */
object SparkEntry {

  /** Flagship: the reference's word-count job (SURVEY.md §2.1) as top-k
    * word frequencies over the sf0.001 documents corpus. */
  def entry(spark: SparkSession): DataFrame =
    WordCount.topK(
      Tables.documents(spark, "/root/testdata/sf0.001"), "text", 20)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.all.map(q => q.name -> q.build).toMap

  /** The DuckDB oracle of every query whose check is [[Oracle]]. */
  val oracleSql: Map[String, String] =
    Catalog.all.collect { case Query(n, _, Oracle(sql)) => n -> sql }.toMap

  /** Each rows-only query → the hash-checked gate that backs it. */
  val gatePairs: Map[String, String] =
    Catalog.all.collect { case Query(n, _, GateTwin(g)) => n -> g }.toMap
}
