package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name, how to build it over an sf directory,
  * and how the driver checks its output. */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    check: Check)

/** How the driver checks a query's output. */
sealed trait Check

/** ANSI SQL that DuckDB runs over the same parquet tables; the driver
  * hashes both outputs, columns sorted by name, so every computed column
  * is aliased identically on both sides. */
final case class Oracle(sql: String) extends Check

/** The query is not SQL-expressible, so the driver checks its row count
  * only. `gate` names the hash-checked query that recomputes its contract
  * as hashed columns (recall floors for the ANN tiers, agreement checks
  * for the dedup pair lists, margin gates for the miners); the gate's own
  * check must be an [[Oracle]]. */
final case class GateTwin(gate: String) extends Check

/** Every query, one file per family. Building it runs no Spark action. */
object Catalog {

  val all: Seq[Query] = of(
    WordcountQueries.queries, RelationalQueries.queries, TextQueries.queries,
    TokenizerQueries.queries, DedupQueries.queries, AnnQueries.queries,
    GraphQueries.queries, StoreQueries.queries, StreamingQueries.queries,
    MultimodalQueries.queries, SamplingQueries.queries)

  /** The families' queries in order; a name declared twice throws. */
  private[graft] def of(families: Seq[Query]*): Seq[Query] = {
    val qs = families.flatten
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"queries declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** The named queries, in the given order. An unknown name throws before
    * the caller starts a session, naming every unknown name and listing
    * the known ones. */
  def lookup(names: Seq[String]): Seq[Query] = {
    val byName = all.map(q => q.name -> q).toMap
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")}; known: " +
        all.map(_.name).sorted.mkString(", "))
    names.map(byName)
  }
}
