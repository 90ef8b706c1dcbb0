package graft.catalog

import graft.operators._

/** The SQL fragments and the temp-dir reaper that more than one family
  * uses. */
private[catalog] object Shared {

  /** Shared DuckDB SQL fragment: reference-exact tokenization of
    * documents.text (newline→space, strip Python string.punctuation,
    * split on runs of spaces, drop whitespace-only tokens). */
  private[catalog] val DuckTokens: String =
    """SELECT unnest(string_split_regex(
      |         regexp_replace(regexp_replace(text, chr(10), ' ', 'g'),
      |                        '[!-/:-@\[-`{-~]', '', 'g'),
      |         ' +')) AS word
      |FROM documents""".stripMargin

  /** Temp dirs to delete at JVM exit (single hook, registered lazily).
    * Deletion must wait for exit: the DataFrames built over these dirs are
    * lazy and may be re-executed arbitrarily late (best-of-N benching). */
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val reaperInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tempDirs.forEach { d =>
        try {
          java.nio.file.Files.walk(java.nio.file.Paths.get(d))
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        } catch { case _: Throwable => () }
      }))

  private[catalog] def reapAtExit(dir: String): Unit = {
    reaperInstalled
    tempDirs.add(dir)
    ()
  }

  /** DuckDB fragment: per-doc token LIST with the same tokenizer. */
  private[catalog] val DuckTokList: String =
    """list_filter(string_split_regex(
      |  regexp_replace(regexp_replace(text, chr(10), ' ', 'g'),
      |                 '[!-/:-@\[-`{-~]', '', 'g'),
      |  ' +'), x -> regexp_matches(x, '\S'))""".stripMargin

  /** Exact recompute of the cross-increment near-dup filter: planted
    * fresh docs (ids +DupIdOffset) vs base, bigram Jaccard ≥ 0.9 (the
    * LSH-deterministic band, splitLeakageNearDup's convention), one row
    * per dropped fresh doc keyed to its smallest base match. Shared by
    * `incremental_neardup` (the batch operator) and
    * `streamed_neardup_ingest` (the micro-batch ingest filter, which
    * settles to the identical answer by construction). */
  private[catalog] lazy val incrementalNearDupSql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text, FALSE AS fresh FROM documents
       |  UNION ALL
       |  SELECT doc_id + ${Dedup.DupIdOffset},
       |    regexp_replace(text, '^[^ ]+ ', ''), TRUE
       |  FROM documents WHERE doc_id < 20),
       |t AS (SELECT doc_id, fresh, $DuckTokList AS toks FROM corpus),
       |feats AS (
       |  SELECT DISTINCT doc_id, fresh,
       |    toks[i] || ' ' || toks[i+1] AS feat
       |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-1))
       |                   AS i) g),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM feats GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS fid, b.doc_id AS bid, count(*) AS n_inter
       |  FROM feats a JOIN feats b
       |    ON a.feat = b.feat AND a.fresh AND NOT b.fresh
       |  GROUP BY 1,2),
       |v AS (
       |  SELECT fid, bid,
       |    round(n_inter::DOUBLE / (sa.sz + sb.sz - n_inter), 6)
       |      AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = fid
       |  JOIN sizes sb ON sb.doc_id = bid
       |  WHERE round(n_inter::DOUBLE / (sa.sz + sb.sz - n_inter), 6)
       |    >= ${Dedup.IncrementalTau}),
       |r AS (
       |  SELECT fid, bid, jaccard,
       |    row_number() OVER (PARTITION BY fid ORDER BY bid) AS rn
       |  FROM v)
       |SELECT fid AS doc_id, bid AS dup_of, jaccard
       |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** DuckDB retraining of the batch-perceptron quality filter — the
    * identical marker plant, feature hash, and K unrolled integer
    * update steps as QualityClassifier.trainPerceptron. Because the
    * whole recurrence is int64 (no floats, not even rounded ones), the
    * oracle reproduces the weights, margins, and predictions EXACTLY:
    * w1 is the all-misclassified first step from w0 = 0; each later
    * step scores with the previous weights (LEFT JOIN + coalesce for
    * unseen features) and folds the misclassified-doc gradient in via
    * FULL OUTER JOIN. The bias rides as feature f = D with x = 1. */
  private[catalog] lazy val PerceptronSql: String = {
    val D = QualityClassifier.D
    val copies = QualityClassifier.MarkerCopies
    val head =
      s"""corpus AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN doc_id % 3 = 0 THEN -1 ELSE 1 END AS BIGINT)
         |      AS label,
         |    text || ' ' || CASE WHEN doc_id % 3 = 0
         |      THEN repeat('xjunk ', $copies) || 'xclean'
         |      ELSE repeat('xclean ', $copies) || 'xjunk' END AS text
         |  FROM documents),
         |tk AS (SELECT doc_id, label, $DuckTokList AS toks FROM corpus),
         |feats AS (
         |  SELECT doc_id, label, f, CAST(count(*) AS BIGINT) AS x FROM (
         |    SELECT doc_id, label,
         |      CAST((ascii(w) * 97 + length(w) * 13) % $D AS BIGINT) AS f
         |    FROM (SELECT doc_id, label, unnest(toks) AS w FROM tk))
         |  GROUP BY 1, 2, 3
         |  UNION ALL
         |  SELECT doc_id, label, CAST($D AS BIGINT) AS f,
         |    CAST(1 AS BIGINT) AS x
         |  FROM corpus),
         |w1 AS (
         |  SELECT f, CAST(sum(label * x) AS BIGINT) AS w
         |  FROM feats GROUP BY 1)""".stripMargin
    val steps = (2 to QualityClassifier.Iters).map { t =>
      val wp = s"w${t - 1}"
      s"""m$t AS (
         |  SELECT fe.doc_id, fe.label,
         |    CAST(coalesce(sum($wp.w * fe.x), 0) AS BIGINT) AS margin
         |  FROM feats fe LEFT JOIN $wp ON fe.f = $wp.f
         |  GROUP BY 1, 2),
         |w$t AS (
         |  SELECT coalesce(a.f, g.f) AS f,
         |    CAST(coalesce(a.w, 0) + coalesce(g.g, 0) AS BIGINT) AS w
         |  FROM $wp a FULL OUTER JOIN (
         |    SELECT fe.f, CAST(sum(fe.label * fe.x) AS BIGINT) AS g
         |    FROM feats fe JOIN m$t ON fe.doc_id = m$t.doc_id
         |    WHERE m$t.margin * m$t.label <= 0
         |    GROUP BY 1) g ON a.f = g.f)""".stripMargin
    }
    val wk = s"w${QualityClassifier.Iters}"
    val fin =
      s"""mfin AS (
         |  SELECT fe.doc_id, fe.label,
         |    CAST(coalesce(sum($wk.w * fe.x), 0) AS BIGINT) AS margin
         |  FROM feats fe LEFT JOIN $wk ON fe.f = $wk.f
         |  GROUP BY 1, 2)""".stripMargin
    (head +: steps :+ fin).mkString(",\n")
  }
}
