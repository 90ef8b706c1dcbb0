package graft

import graft.functions.CleanWordsExpression.CleanWords
import graft.operators.{Relational, WordCount}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{ExplainMode, GenerateExec, InputAdapter,
  SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.scalatest.funsuite.AnyFunSuite

/** Walks an executed plan's expressions, query stages included. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def expressions(p: SparkPlan): Seq[Expression] =
    collect(p) { case n => n.expressions }.flatten

  /** The interpreted (`CodegenFallback`) expression nodes of a plan. */
  def fallbacks(p: SparkPlan): Seq[Expression] =
    expressions(p).flatMap(_.collect { case e: CodegenFallback => e })

  /** Tokenize paths: every expression from a plan node's expression
    * root down to a `tokenize` kernel, and the kernel's own subtree. */
  def tokenizePaths(p: SparkPlan): Seq[Expression] =
    expressions(p).flatMap { root =>
      root.collect { case e if e.exists(_.isInstanceOf[CleanWords]) => e } ++
        root.collect { case k: CleanWords => k.child.collect { case x => x } }
          .flatten
    }

  /** Whole-stage codegen subtrees (cut at their `InputAdapter`s). */
  def codegenStages(p: SparkPlan): Seq[Seq[SparkPlan]] = {
    def body(n: SparkPlan): Seq[SparkPlan] = n match {
      case _: InputAdapter => Nil
      case _ => n +: n.children.flatMap(body)
    }
    collect(p) { case w: WholeStageCodegenExec => body(w.child) }
  }
}

/** Plan-hygiene regression tests: the physical plans that matter at
  * 100 TB must keep their shape — filters pushed into the parquet scan,
  * columns pruned, tiny dims broadcast, aggregates partial+final inside
  * whole-stage codegen. A correctness-preserving refactor that loses one
  * of these properties fails here, not in production. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("pricing_summary: shipdate filter pushed to scan, columns pruned") {
    val p = plan(Relational.pricingSummary(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    // only the 7 needed columns are read, not the 11-column table
    assert(p.contains("l_returnflag"))
    assert(!p.contains("l_partkey"), "scan reads pruned column l_partkey")
  }

  test("region_revenue: dimension joins are broadcast, fact is not") {
    val p = plan(Relational.regionRevenue(spark, dir))
    assert(p.contains("BroadcastHashJoin"))
    // region/nation arrive via BroadcastExchange, never shuffled
    assert(p.contains("BroadcastExchange"))
  }

  test("word count: partial+final hash agg, one exchange, pruned scan") {
    val df = WordCount.wordCount(Tables.documents(spark, dir), "text", false)
    val p = plan(df)
    // partial agg on the map side bounds shuffle volume by vocabulary
    assert(p.contains("partial_count"))
    // formatted mode prints tree + per-node details; count detail headers
    assert("\\(\\d+\\) Exchange\\b".r.findAllIn(p).size === 1)
    assert(p.contains("ReadSchema: struct<text:string>"))
    // the aggregates compile into whole-stage codegen (the `*(N)` stage
    // markers in the AQE-finalized executed plan, so run it first)
    df.collect()
    val ep = df.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) HashAggregate".r.findAllIn(ep).size >= 2)
  }

  test("tokenize is native on the word-count and top_bigrams paths") {
    val wc = WordCount.wordCount(Tables.documents(spark, dir), "text", false)
    wc.collect()
    val ep = wc.queryExecution.executedPlan
    assert(PlanWalk.tokenizePaths(ep).exists(_.isInstanceOf[CleanWords]), ep)
    // nothing on the word-count plan falls back to interpreted eval
    assert(PlanWalk.fallbacks(ep).isEmpty, PlanWalk.fallbacks(ep))
    // the map side (tokenize explode, case fold, partial count) is one
    // whole-stage codegen stage
    assert(PlanWalk.codegenStages(ep).exists(st =>
      st.exists(_.isInstanceOf[GenerateExec]) && st.exists {
        case h: HashAggregateExec =>
          h.aggregateExpressions.exists(_.mode == Partial)
        case _ => false
      }), ep)
    val bg = SparkEntry.queries("top_bigrams")(spark, dir)
    bg.collect()
    val bp = bg.queryExecution.executedPlan
    val path = PlanWalk.tokenizePaths(bp)
    assert(path.exists(_.isInstanceOf[CleanWords]), bp)
    assert(!path.exists(_.isInstanceOf[CodegenFallback]), path)
  }

  test("top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan(WordCount.topK(Tables.documents(spark, dir), "text", 20))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("semi join stays a semi join (no row amplification)") {
    val p = plan(Relational.orderPriority(spark, dir))
    assert(p.contains("LeftSemi"))
  }

  test("binned range join plans as an equi join, not a nested loop") {
    import graft.operators.RangeJoin
    val p = plan(RangeJoin.shipmentsInOrderWindow(spark, dir))
    // the whole point of the bin rewrite: a partitioned hash/merge join
    // on the bin key instead of BroadcastNestedLoopJoin / cartesian
    assert(!p.contains("BroadcastNestedLoopJoin"), "range join fell back to NLJ")
    assert(!p.contains("CartesianProduct"), "range join fell back to cartesian")
    assert(p.contains("Join") && p.contains("__bin"))
  }

  test("hash sampling is a scan-fused filter — no shuffle, no UDF") {
    import graft.operators.Sampling
    val p = plan(Sampling.hashSample(Tables.documents(spark, dir), "doc_id", 20))
    assert(!p.contains("Exchange"), "hash sample introduced a shuffle")
    assert(p.contains("Filter"))
  }

  test("curation pipeline: per-row stages fuse — no join, bounded shuffles") {
    import graft.operators.Curation
    val p = plan(Curation.curationPipeline(spark, dir))
    assert(!p.contains("Join"), s"curation stages must not join:\n$p")
    // dedup-window hash exchange + output-sort range exchange, nothing else
    assert("\\(\\d+\\) Exchange\\b".r.findAllIn(p).size <= 2, p)
  }

  test("part_brand_revenue: part dim arrives broadcast") {
    val p = plan(Relational.partBrandRevenue(spark, dir))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("order gaps/quartiles: both windows share one exchange") {
    import graft.operators.Grouping
    val p = plan(Grouping.orderGapsQuartiles(spark, dir))
    // partition keys match → one hash exchange feeds both window sorts
    // (+ the final presentation sort's range exchange)
    assert("\\(\\d+\\) Exchange\\b".r.findAllIn(p).size <= 2, p)
    assert("\\(\\d+\\) Window\\b".r.findAllIn(p).size === 2, p)
  }

  test("knn_ivf: cell assignment is shuffle-free per-row math") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val p = plan(Similarity.knnIvf(emb, emb.filter(col("vec_id") < 10), 5))
    // the round-1 bug shape was crossJoin + row_number window for
    // assignment; fixed = the ONLY window is the final per-query top-k
    assert("\\(\\d+\\) Window\\b".r.findAllIn(p).size === 1, p)
    assert(!p.contains("CartesianProduct"), p)
    // top-k hash exchange + presentation range exchange + probe broadcast
    assert("\\(\\d+\\) Exchange\\b".r.findAllIn(p).size <= 3, p)
  }

  test("semantic dedup pairs: cell-key equi join, no cartesian blowup") {
    import graft.operators.Dedup
    val p = plan(Dedup.semanticPairs(Tables.embeddings(spark, dir), 0.45))
    // the whole point of cell bounding: candidates meet through a
    // hash-partitioned equi join on the cell id, never an all-pairs join
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join"))
    // assignment is per-row math fused into the scan — no window, no
    // explode-against-codebook
    assert(!"\\(\\d+\\) Window\\b".r.findAllIn(p).hasNext, p)
  }

  test("knn_ivfpq: ADC scan is a cell equi join over codes, not an all-codes product") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val p = plan(Similarity.knnIvfPq(emb, emb.filter(col("vec_id") < 10), 5))
    // the composition's whole point: candidates are the probed cells'
    // code rows via a hash join on the cell id — a non-equi all-codes
    // scan (a broadcast nested-loop product) must NOT appear here
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert("Left keys \\[1\\]: \\[cell#\\d+".r.findFirstIn(p).isDefined ||
           "Right keys \\[1\\]: \\[cell#\\d+".r.findFirstIn(p).isDefined,
      s"ADC join does not key on the cell id:\n$p")
  }

  test("curriculum_stages: every window is partitioned — no global sort") {
    import graft.operators.TextAnalysis
    val df = TextAnalysis.curriculumStages(spark, dir)
    // the operator's whole point vs plain ntile: the stage assignment
    // must never compile to a single-partition global window (the
    // WindowExec everything-to-one-task pathology); the only window
    // allowed is the score-bucket row_number, which is partitioned
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty)
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "curriculum staging fell back to a global unpartitioned window")
  }

  test("bitext mining: pair frame materializes once; neighborhood joins keyed") {
    import graft.operators.Similarity
    val p = plan(Similarity.mineBitext(spark, dir))
    // the deliberate all-pairs broadcast product runs ONCE while the
    // ranked pair frame checkpoints; the downstream plan must read
    // that materialization (ExistingRDD scans), never re-derive the
    // product per consumer, and the sa/sb neighborhood joins must be
    // KEYED joins on src_id/tgt_id — not products
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the pair product leaked past the checkpoint into the probe plan")
    assert("(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)".r
      .findAllIn(p).size >= 2, p)
  }

  test("bitext ANN miner: no pair product anywhere — probe and margin keyed") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    // the probe stage (knnIvfPq per side, MINING shape: the query set
    // is a whole language corpus, so no forced query broadcast) must
    // stay keyed joins — cell equi-join for ADC, key joins for the
    // re-rank — never a nested-loop product of the two languages
    val emb = Tables.embeddings(spark, dir)
    val docs = Tables.documents(spark, dir)
    def side(l: String) = emb.join(
      docs.filter(col("lang") === l).select(col("doc_id").as("vec_id")),
      Seq("vec_id")).select("vec_id", "embedding")
    val probe = plan(Similarity.knnIvfPq(side("de"), side("en"), 4,
      broadcastQueries = false))
    assert(!probe.contains("CartesianProduct"), probe)
    assert(!probe.contains("BroadcastNestedLoopJoin"), probe)
    assert("(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)".r
      .findAllIn(probe).size >= 2, probe)
    // the margin stage reads the checkpointed bounded candidates and
    // joins sa/sb by key — the exact tier's all-pairs product (its
    // BroadcastNestedLoopJoin) must appear NOWHERE in the ANN plan
    val p = plan(Similarity.mineBitextAnn(spark, dir))
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the all-pairs product leaked into the ANN miner's margin plan")
    assert("(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)".r
      .findAllIn(p).size >= 2, p)
  }

  test("hybrid_rrf: leg joins stay bounded — no cartesian off the fusion path") {
    import graft.operators.Retrieval
    val p = plan(Retrieval.hybridRrf(spark, dir))
    // the lexical leg probes postings through broadcast-joined query
    // terms and the fusion joins finalists on (qid, doc_id) — the only
    // permissible product is the dense leg's deliberate broadcast
    // corpus scan (knnBruteForce's =!= join); a CartesianProduct would
    // mean a leg lost its keys
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // fusion is a full outer on the two finalist frames
    assert(p.contains("FullOuter"), p)
  }

  test("knn_lsh: signature is the fused native expression, not HOFs") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val p = plan(Similarity.knnLsh(emb, emb.filter(col("vec_id") < 10), 5))
      .toLowerCase
    assert(p.contains("lshsignbits"), "native LshSignBits missing from plan")
  }

  test("doc_repetition: scan-fused per-row math, zero exchanges") {
    import graft.operators.TextAnalysis
    val p = plan(TextAnalysis.docRepetition(spark, dir))
    // per-doc metrics must never shuffle the corpus; the only allowed
    // exchange is the presentation orderBy's range partitioning
    val ex = "\\(\\d+\\) Exchange\\b".r.findAllIn(p).toSeq
    assert(ex.size <= 1, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate"), p)
  }

  test("contamination_check: benchmark n-grams broadcast, corpus not shuffled pre-join") {
    import graft.operators.TextAnalysis
    val p = plan(TextAnalysis.contaminationCheck(spark, dir))
    // the gram-matching join must build on the (tiny) benchmark side
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("partitioned sink scan: lang filter becomes PartitionFilters") {
    val df = SparkEntry.queries("partitioned_lang_stats")(spark, dir)
    val p = plan(df)
    assert(p.contains("PartitionFilters"), p)
    // a partition-column predicate must NOT degrade to a data filter
    assert(!p.contains("PushedFilters: [In(lang"), p)
  }

  test("sequence packing: one shard exchange, never a global sort") {
    import graft.operators.TextAnalysis
    val p = plan(TextAnalysis.sequencePacking(spark, dir))
    // the cumsum window partitions by lang — a hash exchange, not a
    // single-partition global window (the scale-killer WindowExec warns
    // about); presentation orderBy adds at most one range exchange
    assert(p.contains("hashpartitioning(lang"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("mixture sample is a scan-fused filter: zero exchanges") {
    import graft.operators.Sampling
    import graft.sources.Tables
    val df = Sampling.mixtureSample(Tables.documents(spark, dir),
      "lang", "doc_id", Map("en" -> 90), 50)
    val p = plan(df)
    assert(!p.contains("Exchange"), p)
    assert(p.contains("Filter"), p)
  }

  test("lm typicality: model tables broadcast, corpus never shuffles on grams") {
    import graft.operators.TextAnalysis
    val p = plan(TextAnalysis.lmTypicality(spark, dir))
    // both count tables are vocabulary-bounded → broadcast lookups; the
    // only corpus-scale exchange is the per-doc re-aggregation
    assert("\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p).size === 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("bloom contamination: scan-fused might_contain prune before the exact join") {
    import graft.operators.TextAnalysis
    val p = plan(TextAnalysis.contaminationCheckBloom(spark, dir))
    // tier 1 must be a plain Filter (the bloom binary is a literal —
    // codegen'd, no join, no shuffle); tier 2 the broadcast semi-match
    assert(p.contains("might_contain"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("boilerplate scrub: frequent-line set broadcast into an anti join") {
    import graft.operators.TextAnalysis
    val p = plan(TextAnalysis.boilerplateScrub(spark, dir))
    // the drop set is tiny by pigeonhole (≤ n_docs/minDocs lines) — it
    // must arrive broadcast; the corpus must never sort-merge on line text
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("document chunking: scan-fused explode, zero corpus shuffles") {
    import graft.operators.TextAnalysis
    val p = plan(TextAnalysis.chunkDocuments(spark, dir))
    // per-row sequence/slice math + generate; the only exchange allowed
    // is the presentation orderBy's range partitioning
    assert("\\(\\d+\\) Exchange\\b".r.findAllIn(p).size <= 1, p)
    assert(!p.contains("HashAggregate") && !p.contains("Join"), p)
  }

  test("documents_profile: every union leg scans exactly one column") {
    val p = plan(graft.operators.Profile.documentsProfile(spark, dir))
    // one pruned FileScan per profiled column — a leg reading the whole
    // table would repeat the widest ReadSchema five times
    for (c <- Seq("doc_id", "lang", "source", "n_chars")) {
      assert(p.contains(s"ReadSchema: struct<$c:"), s"leg for $c not pruned:\n$p")
    }
    // text leg prunes too (text plus nothing else)
    assert(p.contains("ReadSchema: struct<text:string>"), p)
  }

  test("zorder bucket stats: morton math stays in one codegen stage") {
    val p = plan(graft.operators.Layout.zorderBucketStats(spark, dir))
    // scan-fused: no join, a single exchange for the bucket aggregate
    assert(!p.contains("Join"), p)
    assert("\\(\\d+\\) Exchange\\b".r.findAllIn(p).size <= 2, p)
  }

  test("native as-of join: AsOfJoinExec over shuffled, sorted children") {
    import graft.operators.AsOfJoin
    import graft.sources.Tables
    val ev = Tables.events(spark, dir).select("event_id", "user_id", "ts")
    val ord = Tables.orders(spark, dir)
      .select("o_custkey", "o_orderdate", "o_orderkey")
    val df = AsOfJoin.asOfBackwardNative(ev, "user_id", "ts",
      ord, "o_custkey", "o_orderdate", Seq("o_orderkey"))
    val p = plan(df)
    assert(p.contains("AsOfJoin"))
    // EnsureRequirements must have added the key shuffle and (key, time)
    // sorts the merge relies on
    assert("\\(\\d+\\) Sort\\b".r.findAllIn(p).size >= 2)
    assert("\\(\\d+\\) Exchange\\b".r.findAllIn(p).size >= 2)
  }

  test("fuzzy match: length-band blocking plans as an equi join, not NLJ") {
    import graft.operators.FuzzyMatch
    val p = plan(FuzzyMatch.similarPairs(
      Tables.part(spark, dir), "p_name", 2))
    // the whole point of the blocking: candidate generation must be a
    // hash/merge join on the bin key, never a nested-loop over n^2 pairs
    assert(!p.contains("BroadcastNestedLoopJoin"), "fuzzy match fell back to NLJ")
    assert(!p.contains("CartesianProduct"), "fuzzy match fell back to cartesian")
    assert(p.contains("__bin"))
  }

  test("triangle count: closing probe stays a LEFT SEMI join") {
    import graft.operators.Graph
    val p = plan(Graph.triangleCount(Graph.supplierCoEdges(spark, dir)))
    // non-closing wedges must never materialize output rows
    assert(p.contains("LeftSemi"), "closing probe lost its semi-join shape")
    assert(!p.contains("CartesianProduct"))
  }

  test("dense triangle tier: bitmap probes arrive broadcast, never merge-joined") {
    import graft.operators.Graph
    val p = plan(Graph.triangleCountDense(Graph.supplierCoEdges(spark, dir)))
    // the point of the tier: the O(V) bitmap table broadcasts into the
    // edge stream; a SortMergeJoin would mean the edges shuffled anyway
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "edge stream shuffled for a bitmap probe")
  }

  test("event transitions: one corpus exchange (user window), totals broadcast") {
    import graft.operators.EventAnalytics
    val p = plan(EventAnalytics.eventTransitions(spark, dir))
    assert(p.contains("BroadcastExchange"), "src totals should broadcast")
    assert(p.contains("Window"))
  }

  test("corpus checksums: per-table single aggregate, no join, no window") {
    import graft.operators.Profile
    val p = plan(Profile.corpusChecksums(spark, dir))
    assert(!p.contains("Join"), "a checksum leg grew a join")
    assert(!p.contains("Window"), "a checksum leg grew a window")
  }

  test("corpus assembly: exchange budget holds across the composition") {
    import graft.operators.CorpusAssembly
    // Stages 1-4 materialize once behind Checkpoints (their own shapes
    // are pinned by the per-stage tests); the FINAL plan — what runs per
    // downstream read — must stay: per-lang rate aggregate + one-row
    // budget aggregate + broadcast of the langs-sized rate table back
    // onto the checkpointed corpus + ONE shard exchange for the window.
    // Regression here = a stage re-expanding per consumer (7 corpus
    // scans at 100 TB) or the rates join degrading to a shuffle.
    val p = plan(CorpusAssembly.corpusAssembly(spark, dir))
    assert("\\(\\d+\\) Exchange\\b".r.findAllIn(p).size <= 4, p)
    assert(p.contains("BroadcastHashJoin"), "rates must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the corpus shuffled for a langs-sized join")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("hashpartitioning(shard"),
      "shard window lost its hash partitioning")
  }

  test("corpus refresh assembly: exchange budget holds across the composition") {
    import graft.operators.CorpusAssembly
    // The merge, the near-dup drop list, and the refreshed corpus each
    // materialize ONCE behind Checkpoints.scratch; the FINAL plan — what
    // runs per downstream read — must stay: one shard-hash exchange for
    // the per-shard aggregate, one range exchange for the ordered
    // output, and two one-row audit aggregates (drop count, KL term
    // sum) that ride back as broadcasts. Regression here = the
    // incrementalNearDup subtree re-expanding into the count's plan, or
    // an audit scalar degrading to a shuffled join.
    val p = plan(CorpusAssembly.corpusRefreshAssembly(spark, dir))
    assert("\\(\\d+\\) Exchange\\b".r.findAllIn(p).size <= 5, p)
    assert(!p.contains("SortMergeJoin"),
      "a one-row audit frame shuffled the corpus side")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("hashpartitioning(shard"),
      "per-shard aggregate lost its hash partitioning")
  }

  test("bm25: top-k pushdown, query side broadcast, tf materialized once") {
    import graft.operators.Retrieval
    // tf materializes ONCE behind Checkpoints.scratch (four consumers);
    // the final plan must keep: rank-limit pushdown before the qid
    // exchange (WindowGroupLimit), the query-term relation arriving
    // broadcast, and the one-row corpus stats joined as a broadcast
    // nested loop — never a CartesianProduct, never a corpus SMJ
    val p = plan(Retrieval.bm25TopK(spark, dir, k = 10))
    assert(p.contains("WindowGroupLimit"), "rank filter lost its pushdown")
    assert(p.contains("BroadcastExchange"), "query side must broadcast")
    // one BNLJ node (the one-row stats), appearing twice in formatted
    // output (tree line + detail header)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size === 2, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), "postings probe degraded to SMJ")
  }

  test("ngram novelty: one gram exchange feeds the window, one doc rollup") {
    import graft.operators.{Dedup, TextAnalysis}
    val df = TextAnalysis.ngramNovelty(
      Dedup.withNearDups(Tables.documents(spark, dir)))
    val p = plan(df)
    // the gram-count window runs over the SAME exchange the explode
    // feeds (no join back onto a second corpus explode), then one
    // doc-keyed rollup — 2 shuffle exchanges total
    assert("\\(\\d+\\) Exchange\\b".r.findAllIn(p).size <= 2, p)
    assert(p.contains("Window"))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("temperature weights: corpus scans once, langs-sized math after") {
    import graft.operators.Sampling
    val p = plan(Sampling.temperatureWeights(spark, dir))
    // ONE corpus scan feeding ONE corpus-scale exchange (the per-lang
    // token aggregate); the totals are unpartitioned windows over the
    // langs-sized aggregate output, never a join that would re-expand
    // the corpus subtree (the first cut scanned the parquet 4 times)
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), "langs-sized math grew a join")
  }

  test("dataset card: per-doc features materialize once, one live scan") {
    import graft.operators.Profile
    val p = plan(Profile.datasetCard(spark, dir))
    // four legs read the checkpointed feature frame; only the vocab leg
    // (which needs the token arrays) re-reads the corpus — without the
    // checkpoint every union leg re-expands the tokenize + PII-regex subtree
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), "card legs grew a join")
  }

  test("perceptron scoring: reads the materialized features, no rescan") {
    import graft.operators.QualityClassifier
    val p = plan(QualityClassifier.qualityPerceptron(spark, dir))
    // the returned scoring plan consumes the scratch-checkpointed
    // feature frame — the corpus parquet is never re-read, and the
    // doc-keyed aggregate reuses the frame's doc_id partitioning (the
    // only exchange left is the final presentation sort)
    assert(!p.contains("Scan parquet"), p)
    assert("\\(\\d+\\) Exchange\\b".r.findAllIn(p).size <= 1, p)
  }

  test("cdc chunks: per-chunk explode is scan-fused, sort is the only exchange") {
    import graft.operators.TextAnalysis
    val p = plan(TextAnalysis.cdcChunks(spark, dir))
    // boundary detection, span derivation, and fingerprints are all
    // HOFs over each row's own token array — one parquet scan, one row
    // per CHUNK (never per token), no aggregation, no join; the single
    // exchange is the presentation sort
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1, p)
    assert("\\(\\d+\\) Exchange\\b".r.findAllIn(p).size <= 1, p)
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p)
  }

  test("winnowing: selection is scan-fused HOFs, sort is the only exchange") {
    import graft.operators.TextAnalysis
    val p = plan(TextAnalysis.winnowFingerprints(spark, dir))
    // gram hashing, packed keys, windowed minima, and dedup all run on
    // each row's own arrays (let-bound so nothing re-evaluates per
    // window); one row per selected fingerprint, no join/agg/window op
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1, p)
    assert("\\(\\d+\\) Exchange\\b".r.findAllIn(p).size <= 1, p)
    assert(!p.contains("Join") && !p.contains("HashAggregate") &&
      !p.contains("Window"), p)
  }

  test("weighted sample: TakeOrdered top-k, never a global sort") {
    import graft.operators.Sampling
    val p = plan(Sampling.weightedSample(spark, dir))
    // A-Res = scan-fused key + per-partition heaps merged at the driver
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), "weighted sample grew a shuffle")
  }

  test("contrastive pairs: negatives are hash math, no sampling join") {
    import graft.operators.Curation
    val p = plan(Curation.contrastivePairs(spark, dir))
    // the only join is the broadcast of the one-row corpus-size
    // aggregate; negative ids never touch a data-sized shuffle
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert("\\(\\d+\\) Exchange\\b".r.findAllIn(p).size <= 2, p)
  }

  test("keep-best dedup selection: hash aggregation, not a window") {
    import graft.operators.{Dedup, TextAnalysis}
    val corpus = Dedup.withNearDups(Tables.documents(spark, dir))
    // pin the SELECTION stage in isolation (the upstream component
    // computation is iterative and pinned by its own tests): feed a
    // pre-built components frame through the same labeled-join +
    // argmax shape keepBestDedup uses
    val p = plan(Dedup.keepBestDedup(corpus,
      TextAnalysis.qualityScoreOf(corpus), 0.5))
    // per-cluster argmax is max(struct(quality, -id)) under hash agg —
    // a row_number window would concentrate a giant cluster on one task
    assert(!p.contains("Window"), "cluster argmax regressed to a window")
    assert(p.contains("HashAggregate"), p)
  }

  test("gopher rules: one corpus scan into one aggregation, no join, no window") {
    import graft.operators.TextAnalysis
    val p = plan(TextAnalysis.gopherRules(spark, dir))
    // all per-doc rule math is scan-fused column work; the only
    // exchanges are the 8-sum reduce's partial->final single-partition
    // hop and the presentation orderBy
    val ex = "\\(\\d+\\) Exchange\\b".r.findAllIn(p).toSeq
    assert(ex.size <= 2, p)
    assert(!p.contains("Join"), "gopher rules grew a join: " + p)
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("gopher repetition: scan-fused sorted-array counters, no join, no window") {
    import graft.operators.TextAnalysis
    val p = plan(TextAnalysis.gopherRepetition(spark, dir))
    // the battery's whole point at 100 TB: all 13 rules ride ONE
    // corpus scan — gram counting is sorted-array aggregate state per
    // row, never an explode + shuffle per n; the only exchanges are
    // the 14-sum reduce hop and the presentation orderBy
    val ex = "\\(\\d+\\) Exchange\\b".r.findAllIn(p).toSeq
    assert(ex.size <= 2, p)
    assert(!p.contains("Join"), "gopher repetition grew a join: " + p)
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("nn-descent round joins are keyed — no cartesian anywhere in the graph") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, dir)
    val p = plan(Similarity.knnGraphNnDescent(emb, 10, iters = 1))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("graph-tier semantic dedup verify: candidate equi joins, no pair product") {
    import graft.operators.Dedup
    val emb = Tables.embeddings(spark, dir)
    val p = plan(Dedup.semanticPairsGraph(emb, 0.45))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ivfpq lifecycle ingest: frozen-model append encodes with ZERO exchanges") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val (cents, cb, _) = Similarity.ivfPqIndex(emb.filter(col("vec_id") < 100),
      Similarity.scaledCells(100))
    // the lifecycle's ingest stage: cell assignment + PQ encode are
    // pure per-row math against driver-held literals — an arrival
    // costs one scan of the increment, no shuffle anywhere (the
    // partition-append contract; a shuffle here would mean the daily
    // ingest re-keys the corpus)
    val p = plan(Similarity.ivfPqAppend(cents, cb,
      emb.filter(col("vec_id") >= 100)))
    assert("\\(\\d+\\) Exchange\\b".r.findAllIn(p).isEmpty,
      "frozen-model append grew a shuffle:\n" + p)
    assert(!p.contains("Join"), p)
  }

  test("filtered ANN probe: filter semi-join sits BELOW the cell-keyed ADC join") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val emb = Tables.embeddings(spark, dir)
    val allowed = emb.filter(col("vec_id") % 3 === 0).select("vec_id")
    val df = Similarity.knnIvfPqFiltered(emb, allowed,
      emb.filter(col("vec_id") < 10), 5)
    val p = plan(df)
    // same contract as the unfiltered probe: candidates via a cell
    // equi join, never an all-codes product
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert("Left keys \\[1\\]: \\[cell#\\d+".r.findFirstIn(p).isDefined ||
           "Right keys \\[1\\]: \\[cell#\\d+".r.findFirstIn(p).isDefined,
      s"ADC join does not key on the cell id:\n$p")
    // the filter's whole point: the allowed-id semi-join must prune
    // the CODE ROWS (inside the ADC join's index subtree), not the
    // finished results after the re-rank
    val lp = df.queryExecution.optimizedPlan
    val cellJoins = lp.collect {
      case j: LJoin if j.condition.exists(
        _.references.exists(_.name == "cell")) => j
    }
    assert(cellJoins.nonEmpty, "no cell-keyed ADC join found")
    assert(cellJoins.exists(j => (j.left.collect {
        case s: LJoin if s.joinType == LeftSemi => s
      } ++ j.right.collect {
        case s: LJoin if s.joinType == LeftSemi => s
      }).nonEmpty),
      "the allowed-id semi-join does not feed the ADC join's inputs")
  }
}
