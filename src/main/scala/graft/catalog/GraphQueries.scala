package graft.catalog

import graft.operators._
import graft.sources.Tables

/** Graph queries: integer PageRank, triangle counting, and the NN-Descent
  * k-NN graph with its gates. */
object GraphQueries {

  /** One unrolled fixed-point PageRank sweep for the DuckDB oracle —
    * the same BIGINT arithmetic as Graph.pageRank (integer division is
    * identical for non-negative operands: Spark DIV truncates, DuckDB
    * `//` floors). */
  private def duckPageRankIter(i: Int): String =
    s"""r$i AS (
       |  SELECT d.node,
       |    150000000 + (85 * coalesce(s.contrib, 0)) // 100 AS pr
       |  FROM deg d LEFT JOIN (
       |    SELECT e.dst AS node,
       |      CAST(sum(r.pr // g.outdeg) AS BIGINT) AS contrib
       |    FROM edges e
       |    JOIN r${i - 1} r ON e.src = r.node
       |    JOIN deg g ON e.src = g.node
       |    GROUP BY e.dst) s ON d.node = s.node)"""

  val queries: Seq[Query] = Seq(
    // the GRAPH lifecycle capstone: base build -> real append descent
    // -> forget from the artifact the append just produced (tombstone
    // + bounded repair, never a rebuild) -> shape + recall re-gate,
    // all on ONE living graph
    Query("graph_lifecycle", ((s, dir) =>
      Similarity.graphLifecycleGate(s, dir)), Oracle(
      // graph lifecycle capstone: the append split (7/8 base + 1/8
      // increment) and the cascade doomed set are exact counts; the
      // composed clean/shape/recall flags pinned 1
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_now
        |           FROM embeddings)
        |SELECT n_now - n_now // 8 AS n_base, n_now // 8 AS n_inc,
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings
        |   WHERE vec_id % 97 = 0) AS n_del,
        |  1 AS graph_clean, 1 AS full_k, 1 AS recall_ok
        |FROM n""".stripMargin)),
    // approximate all-corpus k-NN GRAPH via NN-Descent — the third ANN
    // shape (bounded-query probes, index ingest, now graph-for-every-
    // node); iterative seeded descent → rows-only, nndescent_gate is
    // the hash-green companion
    Query("knn_graph_nndescent", ((s, dir) =>
      Similarity.knnGraphNnDescent(Tables.embeddings(s, dir), 10)),
      GateTwin("nndescent_gate")),
    // graph-shape counts (every node holds exactly min(k, N-1) edges)
    // + recall floor vs the exact graph on a deterministic node sample,
    // restated as oracle constants (floor 0.6; measured recall@10
    // 0.998/0.991/0.934 at sf0.001/0.01/0.1 — full-graph, not sampled)
    Query("nndescent_gate", ((s, dir) =>
      Similarity.nndescentGate(Tables.embeddings(s, dir))), Oracle(
      // NN-Descent graph gate: shape counts are exact SQL (N nodes ×
      // min(k, N-1) edges each — full_k pins the graph delivers them
      // all), recall floor restated as a constant like knn_recall_gates
      """SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(count(*) * LEAST(10, count(*) - 1) AS BIGINT) AS n_edges,
        |  1 AS full_k, 1 AS recall_ok
        |FROM embeddings""".stripMargin)),
    // incremental graph maintenance: base graph + bucket-seeded
    // arrivals + bounded descent rounds — never a rebuild (measured
    // recall 0.992/0.989/0.890 vs cold build's 0.998/0.991/0.934)
    Query("nndescent_append_gate", ((s, dir) =>
      Similarity.nndescentAppendGate(s, dir)), Oracle(
      // append-gate counts: the 1/8 split and edge mass are pure
      // functions of the corpus count; recall/full-k flags constant
      """SELECT CAST(count(*) - count(*) // 8 AS BIGINT) AS n_base,
        |  CAST(count(*) // 8 AS BIGINT) AS n_inc,
        |  CAST(count(*) * LEAST(10, count(*) - 1) AS BIGINT) AS n_edges,
        |  1 AS full_k, 1 AS recall_ok
        |FROM embeddings""".stripMargin)),
    // hubness audit of the graph: in-degree histogram with the orphan
    // (in_degree = 0) row — the embedding-pathology check (rows-only;
    // hubness_gate pins the exact conservation laws)
    Query("knn_graph_hubness", ((s, dir) =>
      Similarity.knnGraphHubness(Tables.embeddings(s, dir))), GateTwin("hubness_gate")),
    // node mass = N, edge mass = N·min(k, N-1), in-degree <= N-1 —
    // all exact SQL on the corpus count
    Query("hubness_gate", ((s, dir) =>
      Similarity.hubnessGate(Tables.embeddings(s, dir))), Oracle(
      // hubness conservation laws: node and edge mass are pure functions
      // of the corpus count, the in-degree bound a constant flag
      """SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(count(*) * LEAST(10, count(*) - 1) AS BIGINT) AS n_edges,
        |  1 AS edge_mass_ok, 1 AS node_mass_ok, 1 AS bound_ok
        |FROM embeddings""".stripMargin)),
    // --- graph / link analysis (crawl-graph scoring tier) ---
    // fixed-point integer PageRank: bit-identical across engines and
    // partition layouts because every sum is an integer sum
    Query("pagerank_suppliers", ((s, dir) => Graph.pageRankTop(s, dir)), Oracle(
      s"""WITH pairs AS (
         |  SELECT DISTINCT o.o_custkey AS c,
         |    l.l_suppkey + 10000000000 AS sp
         |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
         |edges AS (
         |  SELECT c AS src, sp AS dst FROM pairs
         |  UNION ALL SELECT sp AS src, c AS dst FROM pairs),
         |deg AS (SELECT src AS node, count(*) AS outdeg
         |        FROM edges GROUP BY 1),
         |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS pr FROM deg),
         |${(1 to 5).map(duckPageRankIter).mkString(",\n")}
         |SELECT node, pr FROM r5
         |ORDER BY pr DESC, node LIMIT 20""".stripMargin)),
    // --- graph cohesion (ordered-wedge triangle counting) ---
    Query("supplier_triangles", (Graph.supplierTriangles _), Oracle(
      """WITH e AS (
        |  SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_suppkey < l2.l_suppkey),
        |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |        FROM e e1
        |        JOIN e e2 ON e1.b = e2.a
        |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
        |nd AS (SELECT CAST(count(DISTINCT v) AS BIGINT) AS n_nodes
        |       FROM (SELECT a AS v FROM e
        |             UNION ALL SELECT b AS v FROM e) u)
        |SELECT n_nodes, n_edges, n_triangles FROM nd, st, tri""".stripMargin)),
  )
}
