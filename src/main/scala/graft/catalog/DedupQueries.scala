package graft.catalog

import graft.catalog.Shared._
import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Near-duplicate detection: exact, Jaccard, containment, MinHash, SimHash,
  * winnowing and semantic tiers, with their agreement gates. */
object DedupQueries {

  /** containment tau — one value for the Spark call and the oracle
    * threshold (the ShardN anti-desync pattern). */
  private val ContainTau = 0.9

  /** DuckDB recomputation of the exact word-bigram Jaccard tier (J ≥ 0.5)
    * over the near-dup-planted corpus. Shared by `dedup_jaccard_pairs`
    * and BOTH agreement gates: the agreement queries semi-join this exact
    * tier against a candidate tier whose recall on this corpus is 1
    * (deterministic), so their correct answer IS the exact tier. */
  private lazy val ExactJaccardTierSql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 10000, regexp_replace(text, '^[^ ]+ ', '')
       |  FROM documents WHERE doc_id < 20),
       |t AS (SELECT doc_id, $DuckTokList AS toks FROM corpus),
       |feats AS (
       |  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] AS feat
       |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-1))
       |                   AS i) g),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM feats GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
       |  FROM feats a JOIN feats b
       |    ON a.feat = b.feat AND a.doc_id < b.doc_id
       |  GROUP BY 1,2)
       |SELECT id_a, id_b,
       |  round(n_inter::DOUBLE / (sa.sz + sb.sz - n_inter), 6) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b
       |WHERE round(n_inter::DOUBLE / (sa.sz + sb.sz - n_inter), 6) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  val queries: Seq[Query] = Seq(
    // --- dedup (north-star LLM-pipeline operators) ---
    Query("dedup_exact_groups", ((s, dir) =>
      Dedup.exactGroups(Dedup.withExactDups(Tables.documents(s, dir)))
        ), Oracle(
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents WHERE doc_id < 20)
        |SELECT md5(text) AS content_hash, count(*) AS n_copies,
        |  min(doc_id) AS keep_doc_id
        |FROM corpus GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("dedup_jaccard_pairs", ((s, dir) =>
      Dedup.jaccardPairsAuto(Dedup.withNearDups(Tables.documents(s, dir)), 0.5)),
      Oracle(ExactJaccardTierSql)),
    // asymmetric containment: half-copies plant at J ≈ 0.5 but
    // containment ≈ 1 — the regime symmetric Jaccard misses
    Query("dedup_containment_pairs", ((s, dir) =>
      Dedup.containmentPairsAuto(
        Dedup.withContainedDups(Tables.documents(s, dir)), ContainTau)
        .orderBy("contained_id", "container_id")), Oracle(
      // asymmetric containment recompute: same bigram features, the
      // denominator is the CONTAINED side's set size; both directions of
      // each unordered pair tested (exact dups emit both at 1.0)
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + ${Dedup.DupIdOffset},
         |    substr(text, 1, len(text) // 2)
         |  FROM documents WHERE doc_id < ${Dedup.PlantCount}),
         |t AS (SELECT doc_id, $DuckTokList AS toks FROM corpus),
         |feats AS (
         |  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] AS feat
         |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-1))
         |                   AS i) g),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM feats GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         |  FROM feats a JOIN feats b
         |    ON a.feat = b.feat AND a.doc_id < b.doc_id
         |  GROUP BY 1,2),
         |dirs AS (
         |  SELECT id_a AS contained_id, id_b AS container_id,
         |    round(n_inter::DOUBLE / sa.sz, 6) AS containment
         |  FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  UNION ALL
         |  SELECT id_b, id_a, round(n_inter::DOUBLE / sb.sz, 6)
         |  FROM inter
         |  JOIN sizes sb ON sb.doc_id = id_b)
         |SELECT contained_id, container_id, containment
         |FROM dirs WHERE containment >= $ContainTau
         |ORDER BY contained_id, container_id""".stripMargin)),
    Query("dedup_minhash_pairs", ((s, dir) =>
      Dedup.minhashLshPairs(Dedup.withNearDups(Tables.documents(s, dir)),
        k = 32, bands = 8, tau = 0.4)), GateTwin("dedup_minhash_agreement")),
    Query("dedup_simhash_pairs", ((s, dir) =>
      Dedup.simhashPairs(Dedup.withNearDups(Tables.documents(s, dir)),
        maxDist = 8)), GateTwin("dedup_simhash_agreement")),
    // exact tier ∩ LSH candidates == exact tier on this corpus (recall 1,
    // deterministic) — gives the MinHash path a DuckDB-hash-checked row
    Query("dedup_minhash_agreement", ((s, dir) =>
      Dedup.minhashAgreement(Dedup.withNearDups(Tables.documents(s, dir)),
        tau = 0.5, k = 32, bands = 8, estTau = 0.4)), Oracle(
      // identical SQL to dedup_jaccard_pairs: the Spark side semi-joins the
      // exact tier against the MinHash LSH candidates, and on this corpus
      // (all passing pairs J >= 0.9) deterministic LSH recall is 1, so
      // agreement == the exact tier. A signature/banding/estimate bug makes
      // the semi-join drop pairs and the hash mismatch.
      ExactJaccardTierSql)),
    // exact tier ∩ SimHash candidates == exact tier (pigeonhole recall is
    // guaranteed within the Hamming threshold). maxDist 16, not the demo
    // query's 8: measured exact-tier distances reach 8 at sf0.01 / 13 at
    // sf0.001, so 16 gives the gate ~2× corpus-drift margin
    Query("dedup_simhash_agreement", ((s, dir) =>
      Dedup.simhashAgreement(Dedup.withNearDups(Tables.documents(s, dir)),
        tau = 0.5, maxDist = 16)), Oracle(
      // same exact tier: SimHash pigeonhole banding has guaranteed recall
      // within the Hamming threshold, and the planted J >= 0.9 pairs all
      // sit within it, so exact ⋉ simhash == exact on this corpus.
      ExactJaccardTierSql)),
    Query("dedup_embedding_pairs", ((s, dir) =>
      Dedup.embeddingNearDupPairs(Tables.embeddings(s, dir), 0.45)), Oracle(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings)
        |SELECT id_a, id_b, sim FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(
        |      list_sum(list_transform(list_zip(a.v, b.v), x -> x[1]*x[2])) /
        |      (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
        |       sqrt(list_sum(list_transform(b.v, x -> x*x)))), 6) AS sim
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id) t
        |WHERE sim >= 0.45 ORDER BY id_a, id_b""".stripMargin)),
    Query("dedup_components", ((s, dir) =>
      Dedup.dedupComponents(Dedup.withNearDups(Tables.documents(s, dir)),
        tau = 0.5)), Oracle(
      // recursive transitive closure over the SQL-recomputed pair set:
      // comp(v) = min id reachable from v — the same fixpoint the Spark
      // side's large-star/small-star closure reaches
      s"""WITH RECURSIVE pairs AS (
         |  ${ExactJaccardTierSql.replace("\n", "\n  ")}),
         |edges AS (
         |  SELECT id_a, id_b FROM pairs
         |  UNION
         |  SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT id_a, id_a FROM edges
         |  UNION
         |  SELECT r.src, e.id_b FROM reach r
         |  JOIN edges e ON r.dst = e.id_a)
         |SELECT src AS doc_id, min(dst) AS comp
         |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin)),
    // quality-aware keep-one: the cleanest member of each near-dup
    // cluster survives (ties -> min doc_id), singletons keep themselves
    Query("dedup_keep_best", ((s, dir) => {
      val corpus = Dedup.withNearDups(Tables.documents(s, dir))
      Dedup.keepBestDedup(corpus, TextAnalysis.qualityScoreOf(corpus),
        tau = 0.5)
    }), Oracle(
      // same closure, then the quality formula of the quality_score
      // oracle recomputed over the PLANTED corpus; per-cluster argmax by
      // (quality DESC, doc_id) — deterministic because quality is
      // 4-dp-rounded identically in both engines
      s"""WITH RECURSIVE pairs AS (
         |  ${ExactJaccardTierSql.replace("\n", "\n  ")}),
         |corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000, regexp_replace(text, '^[^ ]+ ', '')
         |  FROM documents WHERE doc_id < 20),
         |q AS (
         |  SELECT doc_id,
         |    round(0.4*round(len(list_filter(toks, x -> list_contains(
         |        ['${TextAnalysis.Stopwords.mkString("','")}'], x)))::DOUBLE
         |        / len(toks), 4)
         |      + 0.6*round(len(list_distinct(toks))::DOUBLE / len(toks), 4),
         |      4) AS quality_score
         |  FROM (SELECT doc_id, $DuckTokList AS toks FROM corpus) t),
         |edges AS (
         |  SELECT id_a, id_b FROM pairs
         |  UNION
         |  SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT id_a, id_a FROM edges
         |  UNION
         |  SELECT r.src, e.id_b FROM reach r
         |  JOIN edges e ON r.dst = e.id_a),
         |cmp AS (SELECT src AS doc_id, min(dst) AS comp
         |        FROM reach GROUP BY 1),
         |lab AS (
         |  SELECT c.doc_id, COALESCE(cmp.comp, c.doc_id) AS comp
         |  FROM corpus c LEFT JOIN cmp ON c.doc_id = cmp.doc_id)
         |SELECT comp, cluster_size, doc_id AS keep_doc_id, quality_score
         |FROM (
         |  SELECT comp, doc_id, quality_score,
         |    CAST(count(*) OVER (PARTITION BY comp) AS BIGINT)
         |      AS cluster_size,
         |    row_number() OVER (PARTITION BY comp
         |      ORDER BY quality_score DESC, doc_id) AS rn
         |  FROM lab JOIN q USING (doc_id)) s
         |WHERE rn = 1 ORDER BY comp""".stripMargin)),
    // substring-level duplicate spans over the near-dup-planted corpus
    // (Spark side works on native window HASHES, the oracle on the
    // window strings — agreement also proves the hash kernel faithful)
    // winnowing-candidate near-dup tier: deterministic detection
    // guarantee for 7-token runs, frequent-fp stop list, exact verify
    Query("dedup_winnow_pairs", ((s, dir) =>
      Dedup.winnowNearDupPairs(
        Dedup.withNearDups(Tables.documents(s, dir)), tau = 0.5)), Oracle(
      // the full winnow-candidate chain: fingerprints -> sub-cap postings
      // pairs -> exact bigram-Jaccard on the candidates only
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000, regexp_replace(text, '^[^ ]+ ', '')
         |  FROM documents WHERE doc_id < 20),
         |t AS (SELECT doc_id, $DuckTokList AS toks FROM corpus),
         |g AS (
         |  SELECT doc_id,
         |    array_to_string(list_slice(toks, i,
         |      i + ${TextAnalysis.WinnowK - 1}), ' ') AS gram, i AS pos
         |  FROM t, LATERAL (SELECT unnest(generate_series(1,
         |    len(toks) - ${TextAnalysis.WinnowK - 1})) AS i) p),
         |v AS (
         |  SELECT doc_id, pos,
         |    CAST('0x' || substr(md5(gram), 1, 10) AS BIGINT) * 1048576
         |      + (1048575 - pos) AS v
         |  FROM g),
         |sel AS (
         |  SELECT DISTINCT doc_id,
         |    min(v) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND ${TextAnalysis.WinnowW - 1}
         |      FOLLOWING) AS v
         |  FROM v),
         |fp AS (SELECT DISTINCT doc_id, CAST(v // 1048576 AS BIGINT)
         |         AS h FROM sel),
         |rare AS (SELECT h FROM (
         |  SELECT h, count(*) AS df FROM fp GROUP BY 1) x
         |  WHERE df <= ${Dedup.WinnowDfCap}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM fp a
         |  JOIN rare r ON r.h = a.h
         |  JOIN fp b ON b.h = a.h AND a.doc_id < b.doc_id),
         |feats AS (
         |  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] AS feat
         |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-1))
         |                   AS i) g2),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM feats GROUP BY 1),
         |inter AS (
         |  SELECT c.id_a, c.id_b, count(*) AS n_inter
         |  FROM cand c
         |  JOIN feats a ON a.doc_id = c.id_a
         |  JOIN feats b ON b.doc_id = c.id_b AND b.feat = a.feat
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(n_inter::DOUBLE / (sa.sz + sb.sz - n_inter), 6)
         |    AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = id_a
         |JOIN sizes sb ON sb.doc_id = id_b
         |WHERE round(n_inter::DOUBLE / (sa.sz + sb.sz - n_inter), 6)
         |      >= 0.5
         |ORDER BY id_a, id_b""".stripMargin)),
    Query("dup_spans", ((s, dir) =>
      Dedup.duplicateSpans(Dedup.withNearDups(Tables.documents(s, dir)),
        windowLen = 40)), Oracle(
      // the oracle recomputes duplicate windows from the SUBSTRINGS
      // themselves; output columns are position-difference invariant so
      // 0- vs 1-based window starts cancel out
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, regexp_replace(text, '^[^ ]+ ', '')
        |  FROM documents WHERE doc_id < 20),
        |sh AS (
        |  SELECT doc_id, i AS pos, substr(text, i, 40) AS w
        |  FROM corpus, LATERAL (SELECT unnest(generate_series(1,
        |                          length(text) - 39)) AS i) g
        |  WHERE length(text) >= 40),
        |dupset AS (SELECT w FROM (
        |  SELECT w, count(DISTINCT doc_id) AS nd FROM sh GROUP BY 1) f
        |  WHERE nd >= 2),
        |dup AS (SELECT doc_id, pos FROM sh
        |        WHERE w IN (SELECT w FROM dupset)),
        |isl AS (SELECT doc_id, pos,
        |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |    AS grp FROM dup),
        |spans AS (SELECT doc_id, grp, max(pos) - min(pos) + 40
        |            AS span_chars
        |          FROM isl GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS n_dup_spans,
        |  CAST(sum(span_chars) AS BIGINT) AS n_dup_chars,
        |  max(span_chars) AS max_span
        |FROM spans GROUP BY 1 ORDER BY doc_id""".stripMargin)),
    // the REMOVAL step dup_spans only reports: cut every duplicated
    // window except in its min-doc_id owner; md5 pins the spliced text
    Query("scrub_dup_spans", ((s, dir) =>
      Dedup.scrubDuplicateSpans(
        Dedup.withNearDups(Tables.documents(s, dir)), windowLen = 40)), Oracle(
      // the full removal policy on window STRINGS: owner = min doc_id per
      // duplicated window; non-owners cut [pos, pos+40); covered chars
      // merge via the running-max islands trick; splice = string_agg of
      // lag-delimited kept segments + the tail. md5 of the spliced text
      // must equal Spark's HOF-fold splice byte-for-byte.
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, regexp_replace(text, '^[^ ]+ ', '')
        |  FROM documents WHERE doc_id < 20),
        |sh AS (
        |  SELECT doc_id, i AS pos, substr(text, i, 40) AS w
        |  FROM corpus, LATERAL (SELECT unnest(generate_series(1,
        |                          length(text) - 39)) AS i) g
        |  WHERE length(text) >= 40),
        |own AS (
        |  SELECT w, min(doc_id) AS owner
        |  FROM (SELECT DISTINCT w, doc_id FROM sh)
        |  GROUP BY w HAVING count(*) >= 2),
        |cuts AS (
        |  SELECT sh.doc_id, pos AS s, pos + 40 AS e
        |  FROM sh JOIN own ON sh.w = own.w
        |  WHERE sh.doc_id <> own.owner),
        |m0 AS (
        |  SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_max
        |  FROM cuts),
        |m1 AS (
        |  SELECT doc_id, s, e,
        |    sum(CASE WHEN s > coalesce(prev_max, 0) THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY s) AS grp
        |  FROM m0),
        |iv AS (
        |  SELECT doc_id, grp, min(s) AS s, max(e) AS e
        |  FROM m1 GROUP BY 1, 2),
        |st AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans_cut,
        |    CAST(sum(e - s) AS BIGINT) AS n_cut_chars
        |  FROM iv GROUP BY 1),
        |seg AS (
        |  SELECT doc_id, s, e,
        |    lag(e, 1, 1) OVER (PARTITION BY doc_id ORDER BY s) AS prev_e
        |  FROM iv),
        |spl AS (
        |  SELECT seg.doc_id,
        |    string_agg(substr(c.text, CAST(prev_e AS INTEGER),
        |      CAST(s - prev_e AS INTEGER)), '' ORDER BY s) AS head,
        |    max(e) AS last_e
        |  FROM seg JOIN corpus c ON seg.doc_id = c.doc_id
        |  GROUP BY seg.doc_id)
        |SELECT c.doc_id, CAST(length(c.text) AS BIGINT) AS n_chars,
        |  coalesce(st.n_cut_chars, 0) AS n_cut_chars,
        |  coalesce(st.n_spans_cut, 0) AS n_spans_cut,
        |  md5(CASE WHEN spl.doc_id IS NULL THEN c.text
        |           ELSE coalesce(spl.head, '') ||
        |                substr(c.text, CAST(spl.last_e AS INTEGER)) END)
        |    AS scrubbed_fp
        |FROM corpus c
        |LEFT JOIN spl ON c.doc_id = spl.doc_id
        |LEFT JOIN st ON c.doc_id = st.doc_id
        |ORDER BY c.doc_id""".stripMargin)),
    // the same star closure under its own query name (one closure
    // engine; the oracle SQL is dedup_components')
    Query("dedup_components_star", ((s, dir) =>
      Dedup.dedupComponentsStar(
        Dedup.withNearDups(Tables.documents(s, dir)), tau = 0.5)), Oracle(
      // the closure oracle is algorithm-agnostic: it checks the star
      // closure's labels, whatever query name runs it
      s"""WITH RECURSIVE pairs AS (
         |  ${ExactJaccardTierSql.replace("\n", "\n  ")}),
         |edges AS (
         |  SELECT id_a, id_b FROM pairs
         |  UNION
         |  SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT id_a, id_a FROM edges
         |  UNION
         |  SELECT r.src, e.id_b FROM reach r
         |  JOIN edges e ON r.dst = e.id_a)
         |SELECT src AS doc_id, min(dst) AS comp
         |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("neardup_pipeline", ((s, dir) =>
      Dedup.nearDupPipeline(Dedup.withNearDups(Tables.documents(s, dir)),
        tau = 0.5, k = 32, bands = 8, estTau = 0.4)), Oracle(
      // survivors = corpus minus non-min members of the pair-graph closure
      // (LSH recall is 1 on this corpus, so verified pairs == exact tier)
      s"""WITH RECURSIVE pairs AS (
         |  ${ExactJaccardTierSql.replace("\n", "\n  ")}),
         |edges AS (
         |  SELECT id_a, id_b FROM pairs
         |  UNION
         |  SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT id_a, id_a FROM edges
         |  UNION
         |  SELECT r.src, e.id_b FROM reach r
         |  JOIN edges e ON r.dst = e.id_a),
         |dropped AS (
         |  SELECT src AS doc_id FROM reach
         |  GROUP BY 1 HAVING min(dst) <> src),
         |corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000, regexp_replace(text, '^[^ ]+ ', '')
         |  FROM documents WHERE doc_id < 20)
         |SELECT c.doc_id, md5(c.text) AS content_fp
         |FROM corpus c ANTI JOIN dropped d ON c.doc_id = d.doc_id
         |ORDER BY c.doc_id""".stripMargin)),
    Query("dedup_cluster_sizes", ((s, dir) =>
      Dedup.clusterSizeHistogram(
        Dedup.withNearDups(Tables.documents(s, dir)), tau = 0.5)), Oracle(
      // histogram over the same closure: component → size → size → count
      s"""WITH RECURSIVE pairs AS (
         |  ${ExactJaccardTierSql.replace("\n", "\n  ")}),
         |edges AS (
         |  SELECT id_a, id_b FROM pairs
         |  UNION
         |  SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT id_a, id_a FROM edges
         |  UNION
         |  SELECT r.src, e.id_b FROM reach r
         |  JOIN edges e ON r.dst = e.id_a),
         |comp AS (SELECT src AS doc_id, min(dst) AS comp
         |         FROM reach GROUP BY 1),
         |sizes AS (SELECT comp, count(*) AS cluster_size
         |          FROM comp GROUP BY 1)
         |SELECT cluster_size, count(*) AS n_clusters
         |FROM sizes GROUP BY 1 ORDER BY cluster_size""".stripMargin)),
    // SemDeDup-style pipeline: k-means cells bound the pair space, exact
    // cosine verifies, star components keep one per cluster. Cell
    // assignment isn't SQL-expressible → rows-only, with the hash-checked
    // gate next asserting subset/recall/survivor invariants vs the exact
    // global pair set
    Query("semantic_dedup", ((s, dir) =>
      Dedup.semanticDedup(Tables.embeddings(s, dir), tau = 0.45)),
      GateTwin("semantic_dedup_gate")),
    Query("semantic_dedup_gate", ((s, dir) =>
      Dedup.semanticDedupGate(Tables.embeddings(s, dir), tau = 0.45)), Oracle(
      // exact quantities SQL-recomputed (corpus size, global τ-pair
      // count); the cell-bounding invariants re-stated as constant flags —
      // all deterministic (seeded codebook, ordered tie-breaks), measured
      // recall 0.857/1.0/0.979 at sf0.001/0.01/0.1 vs the 0.75 floor
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE round(
        |      list_sum(list_transform(list_zip(a.v, b.v), x -> x[1]*x[2])) /
        |      (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
        |       sqrt(list_sum(list_transform(b.v, x -> x*x)))), 6) >= 0.45)
        |SELECT (SELECT count(*) FROM e) AS n_vectors,
        |  (SELECT count(*) FROM pairs) AS n_pairs_exact,
        |  1 AS subset_ok, 1 AS recall_ok, 1 AS survivors_ok""".stripMargin)),
    // graph-tier semantic dedup: the NN-Descent k-NN graph as the
    // candidate tier (codebook-free — no rebuild cycle; appends just
    // descend further), exact-formula re-verify (rows-only; the gate
    // next is the hash-green companion — measured pair recall
    // 1.000/1.000/0.979 at the three SFs vs floor 0.75)
    Query("semantic_dedup_graph", ((s, dir) =>
      Dedup.semanticDedupGraph(Tables.embeddings(s, dir), tau = 0.45)),
      GateTwin("semantic_dedup_graph_gate")),
    Query("semantic_dedup_graph_gate", ((s, dir) =>
      Dedup.semanticDedupGraphGate(Tables.embeddings(s, dir), tau = 0.45)), Oracle(
      // graph-tier twin of semantic_dedup_gate: identical exact-side
      // recompute (corpus size + global τ-pair count), flags constant
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE round(
        |      list_sum(list_transform(list_zip(a.v, b.v), x -> x[1]*x[2])) /
        |      (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
        |       sqrt(list_sum(list_transform(b.v, x -> x*x)))), 6) >= 0.45)
        |SELECT (SELECT count(*) FROM e) AS n_vectors,
        |  (SELECT count(*) FROM pairs) AS n_pairs_exact,
        |  1 AS subset_ok, 1 AS recall_ok, 1 AS survivors_ok""".stripMargin)),
    // incremental-ingest near-dup: planted fresh increment (near copies
    // of doc_id < 20, the dedup-family convention) vs the base corpus
    Query("incremental_neardup", ((s, dir) => {
      // guardPlantWindow: a corpus draw whose base ids reach the plant
      // window would merge the id spaces and break incrementalNearDup's
      // disjointness contract — fail loud, scan-fused (ADVICE r9)
      val docs = Tables.documents(s, dir).select(
        Dedup.guardPlantWindow(col("doc_id")).as("doc_id"), col("text"))
      val fresh = docs.filter(col("doc_id") < Dedup.PlantCount)
        .select((col("doc_id") + Dedup.DupIdOffset).as("doc_id"),
          regexp_replace(col("text"), "^[^ ]+ ", "").as("text"))
      Dedup.incrementalNearDup(docs, fresh)
    }), Oracle(
      // exact recompute of the cross-increment near-dup filter: planted
      // fresh docs (ids +10000) vs base, bigram Jaccard >= 0.9 (the
      // LSH-deterministic band, splitLeakageNearDup's convention), one
      // row per dropped fresh doc keyed to its smallest base match
      incrementalNearDupSql)),
  )
}
