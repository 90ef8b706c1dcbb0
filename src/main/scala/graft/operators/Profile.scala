package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data profiling — the "look before you train" audit every corpus
  * ingest runs first: per-column row/null/distinct counts and min/max.
  *
  * Shape: one aggregate per column, unioned. Each leg's scan is
  * column-pruned to exactly its column (ReadSchema shows one field), so
  * the union costs one pass over each column's pages — not N passes
  * over the table. Exact `countDistinct` is a per-column shuffle; at
  * 100 TB swap in `approx_count_distinct` (the HLL++ sketch tier,
  * `approx_lineitem_stats`) — the plan shape is otherwise identical.
  * min/max aggregate on the NATIVE type (numeric order for numerics),
  * then cast to string only for the uniform report schema. */
object Profile {

  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.map { c =>
      df.agg(
        count(lit(1)).as("n_rows"),
        // coalesce: sum() over zero rows is NULL — an empty table has
        // zero nulls, not an unknown number of them
        coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_null"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("string").as("min_v"),
        max(col(c)).cast("string").as("max_v"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_v"), col("max_v"))
    }.reduce(_ unionAll _).orderBy("col_name")

  /** Gated query: profile of the documents table. */
  def documentsProfile(s: SparkSession, dir: String): DataFrame =
    columnProfile(Tables.documents(s, dir),
      Seq("doc_id", "text", "lang", "source", "n_chars"))

  /** Fixed-width histogram of a monetary column — the distribution view
    * next to the profile. Bucketing runs on integer cents with integer
    * division against broadcast min/max scalars, so bucket boundaries
    * are bit-exact on every engine (a float `floor((x-min)/w)` flips at
    * representation boundaries). Two passes: the tiny bounds aggregate,
    * then one scan + one bucket-count shuffle. */
  def priceHistogram(s: SparkSession, dir: String,
                     nBuckets: Int = 32): DataFrame = {
    val cents = Tables.lineitem(s, dir).select(
      round(col("l_extendedprice") * 100d, 0).cast("long").as("cents"))
    val bounds = cents.agg(min("cents").as("cmin"), max("cents").as("cmax"))
    cents.crossJoin(broadcast(bounds))
      .withColumn("bucket", expr(
        s"least((cents - cmin) * $nBuckets DIV " +
          s"greatest(cmax - cmin + 1, 1), ${nBuckets - 1})"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"),
        min("cents").as("lo_cents"), max("cents").as("hi_cents"))
      .orderBy("bucket")
  }

  /** Referential-integrity audit across every foreign-key edge of the
    * star schema — the ingest gate that catches a bad upstream export
    * before a broken join silently drops (inner) or NULL-pads (outer)
    * rows in every downstream query.
    *
    * Per edge: child row count, orphan rows (child rows whose FK value
    * has no parent), and distinct orphan key values. Each edge is one
    * left join + conditional aggregate: the child scan is pruned to the
    * FK column, the parent to its key. At 100 TB the parent key sets of
    * the dimension edges are broadcast; the fact-fact edge
    * (lineitem→orders) shuffles on the join key like any other big join
    * and AQE handles skew. All counts are integers — exactly
    * hash-checkable. */
  def fkIntegrityAudit(s: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, fk: String,
             parent: DataFrame, pk: String): DataFrame = {
      val p = parent.select(col(pk)).distinct()
      child.select(col(fk))
        .join(p, child(fk) === p(pk), "left")
        .agg(
          count(lit(1)).as("n_child"),
          coalesce(sum(when(col(pk).isNull, 1L).otherwise(0L)), lit(0L))
            .as("n_orphans"),
          countDistinct(when(col(pk).isNull, col(fk))).as("n_orphan_keys"))
        .select(lit(name).as("edge"), col("n_child"), col("n_orphans"),
          col("n_orphan_keys"))
    }
    val cust = Tables.customer(s, dir)
    val ord = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    val nat = Tables.nation(s, dir)
    Seq(
      edge("orders->customer", ord, "o_custkey", cust, "c_custkey"),
      edge("lineitem->orders", li, "l_orderkey", ord, "o_orderkey"),
      edge("lineitem->part", li, "l_partkey", Tables.part(s, dir),
        "p_partkey"),
      edge("lineitem->supplier", li, "l_suppkey", Tables.supplier(s, dir),
        "s_suppkey"),
      edge("customer->nation", cust, "c_nationkey", nat, "n_nationkey"),
      edge("supplier->nation", Tables.supplier(s, dir), "s_nationkey",
        nat, "n_nationkey"),
      edge("nation->region", nat, "n_regionkey", Tables.region(s, dir),
        "r_regionkey"),
      edge("events->customer", Tables.events(s, dir), "user_id",
        cust, "c_custkey"))
      .reduce(_ unionAll _)
      .orderBy("edge")
  }

  /** Equi-depth (quantile) histogram of customer lifetime spend: decile
    * boundaries plus per-decile population and totals — the complement
    * of `priceHistogram`'s equi-width view, and the standard shape for
    * "how concentrated is spend" questions.
    *
    * Spend is per-order-rounded integer cents summed per customer
    * (exact under any reduction order), deciles are `ntile(10)` over
    * `(spend, custkey)` — the key tiebreak makes the tile assignment a
    * total order, so it is deterministic and engine-independent. The
    * global-order window is the scale caveat: ntile needs a total sort,
    * fine for the O(|customers|) aggregate here (customers are ~1e4×
    * smaller than lineitems); for a fact-sized input swap in the GK
    * sketch tier (`approx_stats_bounds`) for approximate boundaries. */
  def spendDeciles(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(s, dir)
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100d, 0).cast("long").as("cents"))
      .groupBy("o_custkey")
      .agg(sum("cents").as("spend_cents"))
    spend
      .withColumn("decile", ntile(10).over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("spend_cents"), col("o_custkey"))))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"),
        min("spend_cents").as("lo_cents"),
        max("spend_cents").as("hi_cents"),
        sum("spend_cents").as("sum_cents"))
      .orderBy("decile")
  }

  /** Engine-portable table checksum: row count + XOR of a 56-bit md5
    * prefix of each row's canonical string — the migration/replication
    * validation primitive ("did the copy land intact") that works
    * across engines because both sides agree on md5 of an agreed
    * serialization. XOR is the right combiner at scale: commutative
    * and associative like an integer sum but with NO overflow, so the
    * aggregate is a single map-side-combined pass with an O(1) result
    * regardless of table size. 56 bits (not 64) keeps the value inside
    * a signed BIGINT on every engine.
    *
    * Caller supplies the canonical columns: integers/strings/dates
    * serialize identically everywhere; doubles must be pre-converted
    * (e.g. to cents) because float-to-string formatting is
    * engine-specific. */
  def tableChecksum(df: DataFrame, name: String,
                    cols: Seq[Column]): DataFrame =
    df.select(concat_ws("|", cols: _*).as("row_str"))
      .select(expr(
        "cast(conv(substr(md5(row_str), 1, 14), 16, 10) as bigint)")
        .as("h"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(expr("bit_xor(h)"), lit(0L)).as("xor56"))
      .select(lit(name).as("tbl"), col("n_rows"), col("xor56"))

  /** Gated query: checksums of every table in the corpus. Monetary
    * doubles enter as per-row-rounded integer cents; timestamps
    * as epoch micros (string-formatting a timestamp is engine-specific,
    * an epoch integer is not). */
  def corpusChecksums(s: SparkSession, dir: String): DataFrame = {
    def cents(c: String) = round(col(c) * 100d, 0).cast("long")
    Seq(
      tableChecksum(Tables.region(s, dir), "region",
        Seq(col("r_regionkey"), col("r_name"))),
      tableChecksum(Tables.nation(s, dir), "nation",
        Seq(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
      tableChecksum(Tables.customer(s, dir), "customer",
        Seq(col("c_custkey"), col("c_name"), col("c_nationkey"),
          cents("c_acctbal"), col("c_mktsegment"))),
      tableChecksum(Tables.supplier(s, dir), "supplier",
        Seq(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          cents("s_acctbal"))),
      tableChecksum(Tables.part(s, dir), "part",
        Seq(col("p_partkey"), col("p_name"), col("p_brand"),
          col("p_type"), col("p_size"), cents("p_retailprice"))),
      tableChecksum(Tables.orders(s, dir), "orders",
        Seq(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          cents("o_totalprice"), expr("unix_micros(cast(o_orderdate as timestamp))"),
          col("o_orderpriority"))),
      tableChecksum(Tables.lineitem(s, dir), "lineitem",
        Seq(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity").cast("long"),
          cents("l_extendedprice"), expr("unix_micros(cast(l_shipdate as timestamp))"))),
      tableChecksum(Tables.documents(s, dir), "documents",
        Seq(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("text"))),
      tableChecksum(Tables.events(s, dir), "events",
        Seq(col("event_id"), col("user_id"), col("event_type"),
          expr("unix_micros(ts)"))))
      .reduce(_ unionAll _)
      .orderBy("tbl")
  }

  /** Snapshot drift profile — the release-gate diff between yesterday's
    * corpus and today's refresh (the monitoring view a daily pipeline
    * alerts on before publishing): headline integer metrics — row
    * count, language cardinality, distinct-content count, total chars —
    * computed over BOTH snapshots and unpivoted to one row per metric
    * with before/after/delta. Each side is ONE bounded aggregate; the
    * two 1-row frames cross-join broadcast (the one-row-aggregate
    * crossJoin class), so the whole view costs two corpus scans and no
    * data-sized shuffle at any scale. */
  def snapshotDrift(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
      md5(col("text")).as("fp"),
      length(col("text")).cast("long").as("n_chars"))
    val after = graft.operators.Incremental.corpusRefresh(s, dir)
      .select(col("doc_id"), col("lang"), col("fp"),
        col("n_chars").cast("long").as("n_chars"))
    def prof(df: DataFrame, p: String) = df.agg(
      count(lit(1)).as(p + "_rows"),
      countDistinct(col("lang")).as(p + "_langs"),
      countDistinct(col("fp")).as(p + "_texts"),
      sum(col("n_chars")).as(p + "_chars"))
    prof(base, "b").crossJoin(broadcast(prof(after, "a")))
      .select(explode(array(
        struct(lit("n_chars").as("metric"), col("b_chars").as("before"),
          col("a_chars").as("after")),
        struct(lit("n_distinct_texts").as("metric"),
          col("b_texts").as("before"), col("a_texts").as("after")),
        struct(lit("n_langs").as("metric"), col("b_langs").as("before"),
          col("a_langs").as("after")),
        struct(lit("n_rows").as("metric"), col("b_rows").as("before"),
          col("a_rows").as("after")))).as("m"))
      .select(col("m.metric").as("metric"), col("m.before").as("before"),
        col("m.after").as("after"),
        (col("m.after") - col("m.before")).as("delta"))
      .orderBy("metric")
  }

  /** Dataset card — the "datasheet" a corpus release ships with, as ONE
    * hash-checked long-format table (section, metric, value): global
    * doc/token/char/vocab counts, per-language doc and token masses,
    * the quality-score histogram (floor(q·10) buckets of the 0.4/0.6
    * blend — integer-exact because q is 4-dp-rounded identically in
    * both engines), PII incidence (docs matching the shared
    * email/URL regexes), exact-duplicate accounting, and the global
    * token-length extremes with the doubled-integer median. Every
    * number re-states an already-gated operator's arithmetic over the
    * RAW corpus (no plants — the card describes the release, not a
    * fixture), so the whole release summary is a single artifact a
    * consumer can verify and a refresh can diff.
    *
    * Shape: the per-doc feature frame (tokenize + quality + PII
    * regexes + fingerprint — ALL the heavy per-row work) materializes
    * ONCE via localCheckpoint and feeds four bounded aggregation legs;
    * without it each union leg re-expands the corpus subtree and the
    * tokenize + PII-regex pass runs 4× (the temperatureWeights lesson). The
    * checkpointed frame is counts-and-flags, far smaller than the
    * text; only the vocab leg re-reads the corpus (it needs the token
    * arrays themselves), so the card costs two corpus passes total at
    * any scale. Values all int64. */
  def datasetCard(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokenize
    val docs = Tables.documents(s, dir)

    val base = docs.select(col("doc_id"), col("lang"),
      tokenize(col("text")).as("toks"), col("text"))
    val perDoc = base.select(col("doc_id"), col("lang"),
      size(col("toks")).cast("long").as("n_toks"),
      length(col("text")).cast("long").as("n_chars"),
      TextAnalysis.qualityExpr(col("toks")).as("q"),
      (size(regexp_extract_all(col("text"),
        lit(TextAnalysis.EmailRe), lit(0))) > 0).as("has_email"),
      (size(regexp_extract_all(col("text"),
        lit(TextAnalysis.UrlRe), lit(0))) > 0).as("has_url"),
      md5(col("text")).as("fp"))
      .localCheckpoint(true)

    val global = perDoc.agg(count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"), sum("n_chars").as("n_chars"),
        sum(when(col("has_email"), 1L).otherwise(0L)).as("docs_with_email"),
        sum(when(col("has_url"), 1L).otherwise(0L)).as("docs_with_url"),
        min("n_toks").as("min_toks"), max("n_toks").as("max_toks"),
        expr("CAST(2 * percentile(n_toks, 0.5D) AS BIGINT)").as("med2_toks"))
      .select(explode(array(
        Seq(("global", "n_docs", "n_docs"), ("global", "n_tokens", "n_tokens"),
          ("global", "n_chars", "n_chars"), ("length", "min_toks", "min_toks"),
          ("length", "max_toks", "max_toks"),
          ("length", "med2_toks", "med2_toks"),
          ("pii", "docs_with_email", "docs_with_email"),
          ("pii", "docs_with_url", "docs_with_url")).map {
          case (sec, name, c) =>
            struct(lit(sec).as("section"), lit(name).as("metric"),
              col(c).cast("long").as("value"))
        }: _*)).as("r"))
      .select("r.section", "r.metric", "r.value")

    val vocab = base.select(explode(col("toks")).as("w"))
      .select(lower(col("w")).as("word")).distinct()
      .agg(count(lit(1)).as("c"))
      .select(lit("global").as("section"), lit("vocab_size").as("metric"),
        col("c").cast("long").as("value"))

    val perLang = perDoc.groupBy("lang")
      .agg(count(lit(1)).as("d"), sum("n_toks").as("t"))
      .select(explode(array(
        struct(lit("lang").as("section"),
          concat(lit("docs:"), col("lang")).as("metric"),
          col("d").cast("long").as("value")),
        struct(lit("lang").as("section"),
          concat(lit("tokens:"), col("lang")).as("metric"),
          col("t").cast("long").as("value")))).as("r"))
      .select("r.section", "r.metric", "r.value")

    val quality = perDoc
      .select(floor(col("q") * 10).cast("long").as("b"))
      .groupBy("b").agg(count(lit(1)).as("n"))
      .select(lit("quality").as("section"),
        concat(lit("decile_"), col("b")).as("metric"),
        col("n").cast("long").as("value"))

    val dups = perDoc.groupBy("fp").agg(count(lit(1)).as("n"))
      .agg(sum(when(col("n") > 1, 1L).otherwise(0L)).as("g"),
        coalesce(sum(when(col("n") > 1, col("n") - 1)), lit(0L)).as("r"))
      .select(explode(array(
        struct(lit("dup").as("section"),
          lit("exact_dup_groups").as("metric"),
          col("g").cast("long").as("value")),
        struct(lit("dup").as("section"),
          lit("exact_redundant_docs").as("metric"),
          col("r").cast("long").as("value")))).as("r2"))
      .select(col("r2.section"), col("r2.metric"), col("r2.value"))

    global.unionByName(vocab).unionByName(perLang)
      .unionByName(quality).unionByName(dups)
      .orderBy("section", "metric")
  }

  /** Per-snapshot lowercase token counts, full-outer joined on the union
    * vocabulary — the shared input of both drift views. Two map-side-
    * combined vocabulary aggregates + one vocab-sized join (Heaps'-law
    * small relative to the corpus); checkpointed because both drift
    * views read it more than once. */
  private def driftCounts(before: DataFrame, after: DataFrame): DataFrame = {
    def cnts(df: DataFrame, out: String) = df
      .select(explode(graft.functions.TextFunctions.tokenize(col("text")))
        .as("w"))
      .select(lower(col("w")).as("word"))
      .groupBy("word").agg(count(lit(1)).as(out))
    cnts(before, "nb").join(cnts(after, "na"), Seq("word"), "full_outer")
      .select(col("word"),
        coalesce(col("nb"), lit(0L)).as("n_before"),
        coalesce(col("na"), lit(0L)).as("n_after"))
      .localCheckpoint(true)
  }

  /** Token-distribution drift between two corpus snapshots — the
    * refresh-time monitor (the static [[columnProfile]] says what a
    * snapshot IS; this says what a refresh CHANGED): the topK words by
    * absolute frequency shift, exact integer counts, deterministic
    * (|Δ| desc, word asc) cut. Top-k runs as TakeOrdered over the
    * vocab-sized join — never a global sort of the corpus. */
  def tokenDrift(before: DataFrame, after: DataFrame,
                 topK: Int = 30): DataFrame =
    driftCounts(before, after)
      .withColumn("delta", col("n_after") - col("n_before"))
      .orderBy(abs(col("delta")).desc, col("word").asc)
      .limit(topK)

  /** One-number drift gate: add-1-smoothed KL(before ‖ after) over the
    * union vocabulary, in integer millionths. The NB-langid arithmetic
    * convention: each term's ln is floored to BIGINT millionths BEFORE
    * the weighted sum, so both engines aggregate identical integers
    * (float work confined to one ln per vocab word, never accumulated);
    * the final division clamps at zero first because per-term flooring
    * can push a near-zero KL a few millionths negative, where Spark's
    * truncating DIV and DuckDB's flooring // would disagree. Totals are
    * three driver scalars (the k-means-codebook pattern), embedded as
    * literals. Regime bound: a term is (count+1)·(ln-ratio millionths ≤
    * ~5e7), so int64 holds up to ~2e11 occurrences of a single word —
    * beyond that (a top stopword in a ≥50 TB monolingual corpus),
    * shard the corpus and average per-shard KL. */
  def tokenDriftKl(before: DataFrame, after: DataFrame): DataFrame = {
    val counts = driftCounts(before, after)
    // coalesce: sum over an empty vocab is NULL; the empty-corpus
    // degenerate must report 0-token totals, not NPE
    val t = counts.agg(coalesce(sum("n_before"), lit(0L)).cast("long"),
      coalesce(sum("n_after"), lit(0L)).cast("long"), count(lit(1))).head()
    val (n1, n2, v) = (t.getLong(0), t.getLong(1), t.getLong(2))
    val d1 = (n1 + v).toDouble
    val d2 = (n2 + v).toDouble
    // max(…,1): an empty union vocab would make the divisor literal 0,
    // an ANSI DIVIDE_BY_ZERO at runtime; with zero terms the clamped
    // numerator is 0 so the guarded divisor leaves kl = 0
    counts
      .select(((col("n_before") + 1) *
        floor((log((col("n_before") + 1).cast("double") / lit(d1)) -
               log((col("n_after") + 1).cast("double") / lit(d2))) *
          lit(1000000.0)).cast("long")).as("term"))
      .agg(sum("term").as("s"))
      .select(lit(n1).as("n_tokens_before"), lit(n2).as("n_tokens_after"),
        lit(v).as("vocab_union"),
        expr(s"greatest(coalesce(s, CAST(0 AS BIGINT)), CAST(0 AS BIGINT))" +
          s" DIV ${math.max(n1 + v, 1L)}").as("kl_millionths"))
  }
}
