package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's one built-in job — case-configurable word count — as a
  * composable DataFrame operator chain (SURVEY.md §2.1 O1-O7, §7.2 v1).
  *
  * Pipeline: text column → tokenize (O2, exact `clean_words` semantics,
  * the reference's client.py:16-21) → optional case fold (O5,
  * client.py:63-67, applied pre-shuffle) → count-by-key (O6,
  * client.py:71-78, here Tungsten partial+final hash agg with spill).
  * `tokenize` is one native byte-scan expression, so the map side —
  * scan, tokenize explode, case fold, partial count — runs as one
  * whole-stage codegen stage.
  * Partitioning (O3/O4, client.py:36-37) is Spark's full-key hash shuffle —
  * the reference's `ord(first char) % M` placement is an impl detail, not a
  * semantic contract (SURVEY.md §7.4.3), and its measured skew
  * (7171/5649/5300/8188 distinct words per bucket, BASELINE.md) disappears
  * under full-key hashing + AQE.
  *
  * Scale: count-by-key over N rows shuffles only (distinct-word, partial
  * count) pairs thanks to map-side combine — at 100 TB the shuffle volume
  * is bounded by vocabulary size per partition, not corpus size.
  */
object WordCount {

  /** Explode a text column into one row per token, preserving case. */
  def tokens(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokenize(col(textCol))).as("word"))

  /** Config-driven variant: case sensitivity comes from the session conf
    * (GraftConf.CaseSensitiveKey), mirroring the reference's runtime
    * `--case-sensitive` flag rather than a compile-time parameter. */
  def wordCount(df: DataFrame, textCol: String): DataFrame =
    wordCount(df, textCol,
      graft.GraftConf.caseSensitive(df.sparkSession))

  /** (word, cnt) frequencies; case folded to lower unless caseSensitive. */
  def wordCount(df: DataFrame, textCol: String, caseSensitive: Boolean): DataFrame =
    tokens(df, textCol)
      .select(foldCase(col("word"), caseSensitive).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** Top-k words by count, ties broken by word — fully deterministic.
    * TakeOrderedAndProject: no global sort materialization, each partition
    * keeps k rows and the driver merges — safe at any scale for small k. */
  def topK(df: DataFrame, textCol: String, k: Int, caseSensitive: Boolean = false): DataFrame =
    wordCount(df, textCol, caseSensitive)
      .orderBy(desc("cnt"), asc("word"))
      .limit(k)
}
