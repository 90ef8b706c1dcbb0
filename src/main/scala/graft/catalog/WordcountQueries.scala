package graft.catalog

import graft.catalog.Shared._
import graft.operators._
import graft.sources.Tables

/** The reference job: case-configurable word count and top-k over the
  * documents corpus, from parquet and from a text directory. */
object WordcountQueries {

  // sf dir → written-once .txt corpus dir for wordcount_textdir
  private val textDirCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  val queries: Seq[Query] = Seq(
    // --- reference parity: word count (SURVEY.md §2.1 O1-O7) ---
    Query("wordcount_ci", ((s, dir) =>
      WordCount.wordCount(Tables.documents(s, dir), "text", caseSensitive = false)
        ), Oracle(
      s"""SELECT lower(word) AS word, count(*) AS cnt
         |FROM ($DuckTokens) t
         |WHERE regexp_matches(word, '\\S')
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("wordcount_cs", ((s, dir) =>
      WordCount.wordCount(Tables.documents(s, dir), "text", caseSensitive = true)
        ), Oracle(
      s"""SELECT word, count(*) AS cnt
         |FROM ($DuckTokens) t
         |WHERE regexp_matches(word, '\\S')
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("wordcount_topk", ((s, dir) =>
      WordCount.topK(Tables.documents(s, dir), "text", 50)), Oracle(
      s"""SELECT lower(word) AS word, count(*) AS cnt
         |FROM ($DuckTokens) t
         |WHERE regexp_matches(word, '\\S')
         |GROUP BY 1 ORDER BY cnt DESC, word LIMIT 50""".stripMargin)),
    // Reference input format end-to-end (O1 text-dir scan → O7): write the
    // corpus out as .txt files once, scan the directory back with
    // Tables.textDir, word-count the lines. Line-splitting preserves the
    // token multiset (the tokenizer already treats newline as a space), so
    // the oracle over documents.text checks the whole O1→O7 chain.
    Query("wordcount_textdir", ((s, dir) => {
      // one corpus write per (JVM, sf dir), cached: the per-JVM temp path
      // keeps cross-PROCESS runs (Bench + Verify, parallel CI) isolated —
      // a fixed path keyed on `dir` alone races, one process's overwrite
      // deleting files mid-read of the other's lazy scan — while repeat
      // in-process invocations (Bench best-of-N) reuse the files instead
      // of rewriting them. Dirs are reaped at JVM exit (the returned
      // DataFrame is lazy, so deleting any earlier could race a re-scan).
      val tmp = textDirCache.computeIfAbsent(dir, d => {
        val t = java.nio.file.Files
          .createTempDirectory("graft_textdir_").toString
        reapAtExit(t)
        Tables.documents(s, d).select("text")
          .write.mode("overwrite").text(t)
        t
      })
      WordCount.wordCount(Tables.textDir(s, tmp), "line", caseSensitive = false)
    }), Oracle(
      // identical counts to wordcount_ci: the .txt round trip only re-splits
      // lines, and the tokenizer already folds newlines to spaces
      s"""SELECT lower(word) AS word, count(*) AS cnt
         |FROM ($DuckTokens) t
         |WHERE regexp_matches(word, '\\S')
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("wordcount_nostop", (TextAnalysis.wordCountNoStopwords _), Oracle(
      s"""SELECT lower(word) AS word, count(*) AS cnt
         |FROM ($DuckTokens) t
         |WHERE regexp_matches(word, '\\S')
         |  AND lower(word) NOT IN
         |    ('${TextAnalysis.Stopwords.mkString("','")}')
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
  )
}
