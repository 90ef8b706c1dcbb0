package graft.operators

import graft.gates.Audit
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative link-analysis over graphs derived from the relational data —
  * the "crawl-graph scoring" stage of a training-data pipeline (PageRank
  * over a web graph decides which documents are worth keeping long before
  * any text filter runs).
  *
  * All rank arithmetic is **fixed-point integer** (rank scaled by 1e9,
  * damping applied as `(85 * x) DIV 100`): integer sums are associative
  * and order-independent, so the result is bit-identical across partition
  * layouts, retries, and engines — a float PageRank can never be
  * hash-compared because `sum(double)` depends on reduction order.
  *
  * Scale notes (100 TB stance):
  *  - The edge list is the big side: it is hash-partitioned by `src`
  *    ONCE and checkpointed; `localCheckpoint` preserves the physical
  *    partitioning in the `LogicalRDD`, so every per-iteration join
  *    reshuffles only the O(|V|) rank table, never the O(|E|) edges.
  *  - Per-iteration eager `localCheckpoint` on the rank table truncates
  *    lineage: plans stay constant-size over any iteration count (same
  *    pathology fix as connected components, Dedup.scala).
  *  - Degree and rank tables are O(|V|) — they stay distributed; nothing
  *    is collected to the driver.
  */
object Graph {

  /** Supplier node ids are offset into a disjoint range so customers and
    * suppliers share one node-id space. */
  val SupplierOffset: Long = 10000000000L

  /** Fixed-point scale: rank 1.0 == 1e9. */
  val Scale: Long = 1000000000L

  /** Symmetric customer<->supplier edge list: an edge per distinct
    * (customer, supplier) pair connected through an order's lineitems.
    * Both directions are emitted so every node has out-degree >= 1 (no
    * dangling-mass correction needed). */
  def customerSupplierEdges(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"),
        (col("l_suppkey") + SupplierOffset).as("sp"))
      .distinct()
    pairs.select(col("c").as("src"), col("sp").as("dst"))
      .unionAll(pairs.select(col("sp").as("src"), col("c").as("dst")))
  }

  /** Fixed-point PageRank over an edge list `(src: long, dst: long)`.
    *
    * Node set = distinct `src` (callers must pass a graph where every
    * node appears as a source; the symmetric builders above guarantee
    * it). Update rule, all in BIGINT:
    *
    *   contrib(v) = sum over in-edges (u,v) of  rank(u) DIV outdeg(u)
    *   rank'(v)   = (100-damp)*scale DIV 100  +  (damp * contrib(v)) DIV 100
    *
    * Resuming from a stored sweep ([[Checkpoints.rounds]]) is sound
    * because the update is a pure function of (edge list, round-k
    * ranks): the remaining sweeps reproduce the uninterrupted run's
    * ranks exactly. Round k does not depend on `iters`, so the key
    * ([[pageRankKey]]) leaves it out: a run may continue a killed
    * run's rounds whatever its `iters`, and refuses a stored round
    * beyond its own `iters`.
    */
  def pageRank(edges: DataFrame, iters: Int, scale: Long = Scale,
               damp: Long = 85L): DataFrame = {
    require(iters >= 0 && damp >= 0 && damp <= 100)
    val base = (100L - damp) * scale / 100L
    // one shuffle of the big side, ever; partitioning survives checkpoint
    Checkpoints.invariant(edges.repartition(col("src"))) { e =>
      // outdeg rides inside the rank table: one join per sweep instead
      // of a ranks-deg join plus a deg-contrib join
      Checkpoints.rounds("pagerank", Some(pageRankKey(e, scale, damp)),
          iters)(
        e.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("outdeg"))
          .withColumn("pr", lit(scale))) { (ranks, _) =>
        val give = ranks
          .select(col("node").as("src"), expr("pr DIV outdeg").as("give"))
        val contrib = e.join(give, "src")
          .groupBy(col("dst").as("node"))
          .agg(sum("give").as("contrib"))
        ranks.drop("pr")
          .join(contrib, Seq("node"), "left")
          .select(col("node"), col("outdeg"),
            (lit(base) +
              expr(s"($damp * coalesce(contrib, CAST(0 AS BIGINT))) DIV 100"))
              .as("pr"))
      }((_, n) => n >= iters)
    }.select("node", "pr")
  }

  /** [[pageRank]]'s resume key: the edge list's content fingerprint and
    * the two parameters a sweep's arithmetic reads. */
  private[graft] def pageRankKey(edges: DataFrame, scale: Long = Scale,
                                 damp: Long = 85L): String = {
    val (n, h) = Audit.fingerprint(edges, Seq("src", "dst"))
    s"$n-$h-$scale-$damp"
  }

  /** Gated query: top-k nodes of the customer<->supplier graph by rank
    * after `iters` sweeps; deterministic tiebreak on node id. */
  def pageRankTop(s: SparkSession, dir: String, iters: Int = 5,
                  k: Int = 20): DataFrame =
    pageRank(customerSupplierEdges(s, dir), iters)
      .orderBy(desc("pr"), asc("node")).limit(k)

  /** Undirected supplier co-occurrence graph: an edge per supplier pair
    * that ships lines of the same order, kept once as `a < b`. The
    * ordered representation IS the triangle-counting optimization: with
    * every edge stored low→high, each triangle {x<y<z} appears exactly
    * once as the path (x,y),(y,z) closed by (x,z) — no ÷6 correction,
    * no double counting.
    *
    * Pairs come from per-order sorted sets exploded combinatorially
    * (i < j on a sorted distinct array ⇒ a < b) — ONE groupBy shuffle of
    * the fact table instead of a self-join's two, with within-order
    * dedup free from `collect_set`; measured ~2× faster than the
    * self-join form at sf0.1. The per-group set is bounded by
    * suppliers-per-order; a corpus with degenerate giant groups would
    * salt or fall back to the self-join form (SkewJoin pattern). */
  def supplierCoEdges(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey")
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_suppkey"))).as("ss"))
      .select(posexplode(col("ss")).as(Seq("i", "a")), col("ss"))
      .select(col("i"), col("a"),
        posexplode(col("ss")).as(Seq("j", "b")))
      .filter(col("i") < col("j"))
      .select("a", "b")
      .distinct()

  /** Triangle count over an ordered edge list `(a < b)` — the classic
    * graph-cohesion metric (clustering coefficient's numerator).
    *
    * Two shuffled equi joins: wedges = edges ⋈ edges on the middle
    * node, then a semi join probes each wedge's closing edge. Both run
    * hash-partitioned on their keys — the distributed compact-forward
    * algorithm. The ordering bounds wedge fan-out by each node's
    * FORWARD degree (≈ half the degree on average; the skew-dominant
    * high-degree hubs generate wedges only toward higher ids), and the
    * closing probe is a LEFT SEMI join so non-closing wedges never
    * materialize output. Scale: wedge count Σ fwd_deg(v)² is the known
    * cost envelope; a salting pass on residual hub skew composes here
    * exactly as in SkewJoin. */
  def triangleCount(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b"))
    val wedges = e.select(col("a").as("x"), col("b").as("y"))
      .join(e.select(col("a").as("y"), col("b").as("z")), "y")
    val closed = wedges.join(
      e.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"),
      "left_semi")
    val tri = closed.agg(count(lit(1)).as("n_triangles"))
    val stats = e.agg(count(lit(1)).as("n_edges"))
    val nodes = e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v")))
      .agg(countDistinct("v").as("n_nodes"))
    tri.crossJoin(stats).crossJoin(nodes)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  /** Dense-graph triangle tier: per-edge bitmap intersection instead of
    * the wedge join. On a dense graph the wedge stream is Θ(E²/V) rows —
    * the sf0.1 co-shipment graph (V=1000, E=454k, 124M triangles) pushes
    * ~10⁸ rows through two shuffles and ran 26 s. Here every node gets a
    * FORWARD-adjacency bitmap (V bits; dense ⇒ V ≤ ~√(2E), so the O(V)
    * bitmap table is broadcastable by construction), each edge (a,b)
    * counts its closing nodes as `popcount(bm_a & bm_b)` — forward
    * bitmaps only ever intersect above b, so each triangle lands exactly
    * once on its lowest edge — and the only aggregate is one scalar sum:
    * the edge stream never shuffles at all. Work: E·V/64 word-ANDs in
    * codegen vs E²/V shuffled rows.
    *
    * This is NOT the 100 TB default: bitmaps are O(V) wide. It exists
    * for the dense regime, where V is small precisely because E ~ V²;
    * `triangleCountAuto` applies the crossover rule E > V²/64 (bitmap
    * word-ops cheaper than wedge rows) plus a broadcast-size bound. */
  def triangleCountDense(edges: DataFrame): DataFrame = {
    import graft.functions.BitmapExpressions
    val e = edges.select(col("a"), col("b"))
    val nodes = e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v"))).distinct()
      .withColumn("idx",
        (row_number().over(Window.orderBy("v")) - 1).cast("int"))
    // dense precondition makes V driver-sized; one tiny action, same
    // pattern as the Similarity codebook collect
    val nV = nodes.count()
    val nWords = math.max(1L, (nV + 63) / 64).toInt
    // ei feeds three plan branches (the probe's edge stream + both fwd
    // broadcasts) and fwd two — scratch-materialize each once so the
    // id-indexing joins and the bitmap build run once, not per branch
    // (guide §2.4). ei is O(E) narrow ints, fwd O(V) bitmaps.
    val ei = Checkpoints.scratch(e
      .join(broadcast(nodes.select(col("v").as("a"), col("idx").as("ia"))),
        "a")
      .join(broadcast(nodes.select(col("v").as("b"), col("idx").as("ib"))),
        "b")
      .select("ia", "ib"))
    val fwd = Checkpoints.scratch(
      ei.groupBy("ia").agg(collect_set(col("ib")).as("bits"))
        .select(col("ia"),
          BitmapExpressions.bitmap_from_bits(col("bits"), nWords).as("bm")))
    // left join on the b side: a max node has no forward bitmap and
    // closes nothing
    val tri = ei
      .join(broadcast(fwd.select(col("ia").as("__ja"), col("bm").as("ba"))),
        col("ia") === col("__ja"))
      .join(broadcast(fwd.select(col("ia").as("__jb"), col("bm").as("bb"))),
        col("ib") === col("__jb"), "left")
      .select(when(col("bb").isNull, lit(0L))
        .otherwise(BitmapExpressions.bitmap_and_count(col("ba"), col("bb")))
        .as("c"))
      .agg(coalesce(sum("c"), lit(0L)).as("n_triangles"))
    tri.crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .crossJoin(nodes.agg(count(lit(1)).as("n_nodes")))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  private val MaxBitmapBroadcastBytes = 512L << 20

  /** Tier selector: one O(1)-output stats job picks the wedge join
    * (sparse — the 100 TB default) or the bitmap tier (dense). Bitmap
    * work is E·V/64 word-ops; wedge work is ~E²/V shuffled rows
    * (uniform-degree estimate) — bitmaps win when E > V²/64, provided
    * the O(V)-row bitmap table fits the broadcast budget. */
  def triangleCountAuto(edges: DataFrame): DataFrame = {
    // Scratch-materialize the edge list ONCE: the two plan-choice stats
    // actions below plus the chosen tier's own actions and plan branches
    // (dense: nodes.count(), bitmap build, probe, two crossJoin stat
    // legs) each re-execute the upstream edge BUILDER otherwise — for
    // supplier_triangles that is the lineitem groupBy + double explode
    // + distinct re-run 4+ times per query (guide §2.4: remove repeated
    // passes). The edge list itself is O(E) narrow rows — exactly the
    // frame localCheckpoint is for; results are unchanged.
    val e = Checkpoints.scratch(edges.select(col("a"), col("b")))
    val nE = e.count()
    // stacked endpoints, not per-side sums: va+vb would double-count
    // every node that appears on both sides (~2x on a symmetric-ish
    // graph) and make the crossover 4x stricter than intended
    val nV = e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v")))
      .agg(approx_count_distinct("v")).collect()(0).getLong(0)
    val nWords = math.max(1L, (nV + 63) / 64)
    val fits = nV * (nWords * 8 + 48) <= MaxBitmapBroadcastBytes
    if (nE > nV * nV / 64 && fits) triangleCountDense(e)
    else triangleCount(e)
  }

  /** Gated query: cohesion of the supplier co-shipment graph (dense at
    * every tested SF, so the auto tier routes to bitmaps). */
  def supplierTriangles(s: SparkSession, dir: String): DataFrame =
    triangleCountAuto(supplierCoEdges(s, dir))
}
