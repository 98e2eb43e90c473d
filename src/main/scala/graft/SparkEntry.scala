package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.jmes._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator from SURVEY.md §2 (or a north-star
  * extension); `oracleSql` holds the DuckDB-equivalent SQL over the same
  * parquet tables. Column names are aligned between both sides.
  */
object SparkEntry {

  /** Testdata timestamps are parquet TIMESTAMP(NANOS) (pandas-written), which
    * Spark rejects by default. Read them as longs and convert to µs
    * timestamps — truncation matches DuckDB's ns→µs cast, keeping the oracle
    * comparable. */
  private val nanoTsCols = Map(
    "events"   -> Seq("ts"),
    "orders"   -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"))

  /** Per-session logical-plan cache: `spark.read.parquet` fires a footer/
    * schema-inference job on EVERY call, so without this each gate query
    * re-pays a listing job per construction (visible as the leading
    * "parquet at SparkEntry" job in JobProbe). The cached DataFrame is an
    * immutable logical plan — reusing it is free and exact. Keyed by
    * (session identity, path, file mtime): a restarted session never sees
    * a stale plan, and a REGENERATED testdata file (new mtime) misses the
    * cache instead of silently serving the old file listing/schema
    * (ADVICE r13 #5). [[invalidateTableCache]] is the explicit hook for
    * mtime-granularity-defeating rewrites. */
  private val tableCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Long), DataFrame]()

  /** Drop every cached table plan (for data-regenerating tests). */
  def invalidateTableCache(): Unit = tableCache.clear()

  private[graft] def table(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val mtime = new java.io.File(path).lastModified()
    // entries keyed by DEAD sessions (test suites cycle contexts) or stale
    // mtimes would otherwise accumulate; a sweep on growth keeps the map
    // tiny forever
    if (tableCache.size > 64)
      tableCache.keySet.removeIf(k => k._1.sparkContext.isStopped ||
        new java.io.File(k._2).lastModified() != k._3)
    tableCache.computeIfAbsent((s, path, mtime),
      _ => tableUncached(s, dir, name))
  }

  private def tableUncached(s: SparkSession, dir: String, name: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    var df = s.read.parquet(s"$dir/$name.parquet")
    nanoTsCols.getOrElse(name, Nil).foreach { c =>
      if (df.schema.fieldNames.contains(c)) df.schema(c).dataType match {
        // TIMESTAMP(NANOS) parquet read as long under nanosAsLong
        case org.apache.spark.sql.types.LongType =>
          df = df.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
        // TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as TIMESTAMP_NTZ;
        // the session timezone is UTC everywhere (Verify/Bench/specs), so
        // the cast keeps the same microsecond value DuckDB sees
        case org.apache.spark.sql.types.TimestampNTZType =>
          df = df.withColumn(c, col(c).cast(org.apache.spark.sql.types.TimestampType))
        case _ => ()
      }
    }
    df
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * CLI-parity pipeline (reference main.go:63-104): consume the `events`
    * stream table, apply a JMESPath `-filter`, emit `data`-format framed
    * records — here as a DataFrame of (event_id, line).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    table(spark, dir, "events")
      .where(compile.Lowering.truthy(col("props"), "k > `10`"))
      .select(col("event_id"), jmespath(col("props"), "{k: k, big: k > `50`}").as("line"))
  }

  /** Headline subset timed by [[Bench]] (driver-run at sf0.1). Kept small and
    * representative; correctness runs the full `queries` map. */
  def benchQueries: Seq[String] = Seq(
    "q1_agg", "jmes_field", "jmes_filter_compare", "jmes_field_interp",
    "jmes_filter_interp", "jmes_multicol", "jmes_pipeline", "jmes_wide",
    "jmes_wide_interp", "variant_field",
    "variant_multicol", "variant_wide", "cli_format_data",
    "text_stats", "top_terms", "dedup_exact", "dedup_jaccard_pairs",
    // round-8 real workloads: banded LSH, incremental (index-probe) dedup
    // for both modalities, IVF ANN. dedup_stream_batch stays bench-excluded:
    // timing it mostly measures the one-off index build+save, not the
    // steady-state per-batch cost dedup_incremental already represents.
    "dedup_minhash_lsh", "dedup_incremental", "dedup_embedding_incremental",
    "ann_ivf",
    "ann_topk", "ann_lsh", "windowed_agg",
    // corpus-hygiene workloads with real per-document compute (the PII and
    // sampling ops are sub-scan-cost scan-time filters, not bench targets),
    // and the end-to-end curation composition
    "repetition_stats", "contamination", "curate_full",
    // round-9 workloads: bloom-pruned batch dedup, DSIR selection scoring,
    // doc-boundary packing (its recursive-CTE oracle is the slow side —
    // the sequential fill itself is one shuffle + a linear pass)
    "dedup_bloom", "dsir_weights", "pack_greedy",
    // continued round 9: the cross-split pair graph (one-sided leakage
    // removal), CCNet bucketing (lexicon broadcast + exact percentile),
    // and the per-cell cap window (the mixing/stat ops land at the
    // scan-time job floor and stay bench-excluded)
    "leakage_split", "perplexity_partition", "cluster_balance",
    // the text→vector featurizer: two corpus aggregations + in-row math
    "embed_tfidf",
    // continued round 9: surgical span removal (gram broadcast + indexed
    // filter), the corpus-wide df/novelty rollup, and IVF-probed
    // contrastive negative mining
    "decontaminate_spans", "ngram_novelty", "hard_negatives_ivf",
    // third continued-round-9 block: lexical retrieval — the df/cf index
    // job (two partial-agg stages) and shuffle-free broadcast BM25 scoring
    "bm25_index", "bm25_topk",
    // fourth block: the join-free as-of join (one co-partitioning exchange
    // + running window over the full event log), the one-scan multi-level
    // rollup, and hybrid-retrieval fusion (times BOTH ranker legs).
    // interval_join / zorder_key / weighted_sample / grouping variants sit
    // at the scan-time job floor and stay bench-excluded.
    "asof_join", "rollup_agg", "retrieval_rrf",
    // fifth block: production (sketch-only) heavy hitters — one MG pass
    // over the corpus; the exact-recount audit shape stays gate-only
    // (heavy_hitters), mirroring the sliding_distinct split — and the SFT
    // render window+concat (sft_spans shares sft_format's plan shape and
    // stays excluded)
    "heavy_hitters_prod", "sft_format",
    // winnowing (per-gram sha256 + per-window argmin is real per-doc
    // compute), its pair join, and the dual-ranker RBO table;
    // corpus_diff / exact_k_sample / corpus_checksums / zorder_key3 sit
    // at the scan/job floor and stay bench-excluded
    "winnow_fingerprints", "dedup_winnow_pairs", "retrieval_rbo",
    // sixth block: the ops with real corpus-scale compute — the GloVe
    // co-occurrence matrix job (n·window pair explosion + pair-key
    // aggregation), the attribution bucketed join (both sides event-
    // scale), and the semantic-boundary scan (nested integer folds per
    // window joint). The other sixth-block gates (phrase search,
    // blocklist, dpo pairs, drift, budget/batching/interleave/late-audit,
    // keep-best, edit-verify, cdc, assign_ids, card, cms) sit at the
    // scan/job floor at sf0.1
    "glove_cooc", "attribution", "semantic_boundaries",
    // round-10 block: the iterative graph jobs (pair-graph closure, 5
    // fixed-point PageRank rounds over the transaction graph), the salted
    // as-of regime (same volume as asof_join through finer keys + the
    // carry join), the signal-ensemble (three distributed quantile
    // passes + the narrow decile map), and the changelog merge (one
    // struct-extrema shuffle). label_vote / lf_report / exact_quantiles /
    // rolling_features / scd2_history sit at the scan/job floor at sf0.1.
    "dedup_components", "pagerank", "asof_join_salted", "quality_ensemble",
    "merge_upsert",
    // round-11 block: blocked edit-distance join (the oracle's side is an
    // O(n²) levenshtein product — the blocking IS the story), basket
    // pair explosion + three marginal joins, the bigram LM table (three
    // aggregations over the collapsed pair table), and dual-direction
    // mutual-NN mining off ONE sim-matrix pass. compaction_plan sits at
    // the scan/job floor and stays bench-excluded.
    "fuzzy_join", "item_cooc", "kn_bigram_lm", "bitext_mine",
    // second round-11 block: CUSUM (two running windows over the event
    // log) and the corpus-distribution distance (two aggs + full-outer
    // word join + decimal sum). token_f1 rides the scan floor and
    // cooc_maintained mostly times state I/O — both bench-excluded.
    "cusum_flags", "corpus_tv",
    // the IVF-candidate miner A/Bs against bitext_mine's full product
    "bitext_mine_ivf",
    // third round-11 block: corpus BLEU (4 clipped-multiset HOF folds per
    // row), the gram-keyed source-overlap self-join, and the daily-sketch
    // sliding distinct (one corpus collapse + W-sketch window unions).
    // bt_* / win_rates / kappa / ols / gini / brier / ab_ztest /
    // approx_quantiles / hll_maintained sit at the scan/job floor.
    "bleu_corpus", "source_overlap", "sliding_distinct",
    // round-12: ICP stream ordering — one broadcast assignment pass +
    // per-cell greedy walks (real per-task compute over collected cells)
    "icp_order",
    // round-13: the eval metrics with real per-doc compute — chrF (now
    // the row-local native ChrfStats expression), chrF++ (char + word
    // gram halves), and ROUGE-L's native two-row LCS DP. token_f1 still
    // rides the scan floor.
    "chrf_eval", "chrf_pp", "rouge_l",
    // round-13 embedding workloads: the 64×-row pool-fold drift table and
    // the three-leg (full + two truncated) top-k recall eval; the
    // threshold report and drift summary ride their parents' shapes and
    // stay bench-excluded
    "embedding_drift", "mrl_recall",
    // the diversity workflow: per-source lead() pairing + the row-local
    // BLEU scorer + ordered-fold means (sentence_bleu alone rides the
    // chrf scan shape and stays excluded)
    "self_bleu")

  /** The interpreted-execution control group: these queries exist to cover
    * the tree-walking evaluator itself and to anchor the lowered-vs-
    * interpreted bench A/B, so the harness disables [[compile
    * .LowerJmesPathRule]] (`spark.graft.jmes.lower=false`) while running
    * them. Everything else auto-lowers where exactly translatable. */
  val interpretedQueries: Set[String] =
    Set("jmes_field_interp", "jmes_filter_interp", "jmes_wide_interp")

  /** One entry per implemented operator from SURVEY.md §2 + north-star ext. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    core ++ JmesCoverage.queries ++ ext.TextAnalysis.queries ++ ext.Dedup.queries ++
      ext.Similarity.queries ++ ext.Multimodal.queries ++ ext.Sessionize.queries ++
      ext.Curation.queries ++ ext.Hygiene.queries ++ ext.Vocab.queries ++
      ext.Quality.queries ++ ext.Retrieval.queries ++ ext.Joins.queries ++
      ext.Olap.queries ++ ext.Layout.queries ++ ext.Freq.queries ++
      ext.Sft.queries ++ ext.Versioning.queries ++ ext.TopK.queries ++
      ext.Snapshot.queries ++ ext.TimeSeries.queries ++ ext.Behavior.queries ++
      ext.Contract.queries ++ ext.Weak.queries ++ ext.Graph.queries ++
      ext.Web.queries ++ ext.Assoc.queries ++ ext.Fuzzy.queries ++
      ext.Prefs.queries ++
      engine.Quarantine.queries ++
      engine.StreamingCoverage.queries

  /** [[compile.FusedGate]] barrier around the constructed document (r18):
    * with the one-file-corpus spread in place, predicate pushdown would
    * otherwise push the gate Filter BELOW the round-robin exchange by
    * inlining the doc alias — re-creating the double-parse plan (gate
    * parses ALL rows on the pre-spread single task, extraction parses
    * survivors again; the round-7 class) and defeating both the spread and
    * the one-scan fusion pin. FusedGate is the identity on its
    * (deterministic) child flagged non-deterministic, the same wall the
    * fusion rule itself plants under `_jmes_scan`: the Filter stays above
    * the doc-defining Project, where FuseProjectScans merges gate +
    * extractions into ONE scan per record above the exchange. */
  private def docBarrier(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val b = org.apache.spark.sql.graft.bridge
    b.column(compile.FusedGate(b.expression(c)))
  }
  /** The jmes_wide/variant_wide constructed document (~1 KB/record): the
    * props docs are ~12 B, where Spark's job floor hides per-record engine
    * cost; this builds a realistic nested document per event so the A/B
    * measures the engines, not the scheduler. */
  private def wideDoc: org.apache.spark.sql.Column = {
    val pads = (1 to 20).flatMap(i => Seq(
      lit(s""", "f$i": "pad$i-abcdefghijklmnopqrstuvwxyz0123456789"""")))
    concat(Seq(
      lit("{\"k\": "), col("event_id") % 100,
      lit(", \"meta\": {\"u\": "), col("user_id"),
      lit(", \"et\": \""), col("event_type"), lit("\"}")) ++ pads ++ Seq(
      lit(", \"tags\": [\"a"), col("event_id") % 7,
      lit("\", \"b"), col("user_id") % 5,
      lit("\"], \"nums\": ["), col("event_id") % 9,
      lit(", "), col("user_id") % 9, lit("]}")): _*)
  }

  private def core: Map[String, (SparkSession, String) => DataFrame] = Map(
    // J1/J2 — field access + subexpression (interpreter.go:78-83,266-271),
    // natively lowered to the streaming JsonPathRaw extractor (compile.Lowering)
    "jmes_field" -> ((s, dir) =>
      table(s, dir, "events")
        .select(col("event_id"), compile.Lowering.double(col("props"), "k").as("k"))),

    // J11 + truthiness — CLI `-filter` semantics (main.go:88-101, util.go:13-45),
    // natively lowered comparator + truthiness
    "jmes_filter_compare" -> ((s, dir) =>
      table(s, dir, "events")
        .where(compile.Lowering.truthy(col("props"), "k > `50`"))
        .select(col("event_id"), col("props"))),

    // the full CLI pipeline shape over a stored column: `-filter` gate +
    // multi-column extraction — FuseProjectScans merges the gate and both
    // outputs into ONE streaming pass per record evaluated below the
    // Filter, the reference's parse-once-filter-emit loop (main.go:89-104);
    // plan shape pinned in PlanSpec
    "jmes_pipeline" -> ((s, dir) =>
      table(s, dir, "events")
        .where(jmesTruthy(col("props"), "k > `50`"))
        .select(col("event_id"),
          jmespathDouble(col("props"), "k").as("k"),
          jmespath(col("props"), "{v: k}").as("obj"))),

    // wide-document workload (~1 KB/record): the props docs are ~12 B, where
    // Spark's job floor hides per-record engine cost; this constructs a
    // realistic nested document per event and runs the CLI-shaped pipeline —
    // JMESPath filter with a function call, then fused multi-column
    // extraction. The oracle computes every output arithmetically from the
    // same derived columns (JmesCoverage pattern).
    "jmes_wide" -> ((s, dir) =>
      ext.Dedup.spread(table(s, dir, "events"))
        .withColumn("doc", docBarrier(wideDoc))
        .where(jmesTruthy(col("doc"), "k >= `50` && length(tags) == `2`"))
        .select(col("event_id"),
          jmespathDouble(col("doc"), "k").as("k"),
          jmespath(col("doc"), "tags[0]").as("tag0"),
          jmespathDouble(col("doc"), "meta.u").as("mu"),
          jmespathDouble(col("doc"), "nums[-1]").as("nlast"))),

    // Variant twin of jmes_wide — the §1.2 representation A/B at realistic
    // document width, retained as a TRACKING CONTROL with a recorded
    // verdict (BASELINE.md §1.2, r15): for in-flight strings parsed within
    // the query, parse_json's full binary-tree build per record is the
    // cost class itself — a parse-once barrier form recovers only ~4%, and
    // ONE variant_get over the parse already costs 1.5× the whole fused
    // raw scan. Variant pays only when the parse amortizes across queries
    // (a stored Variant column); the production path is the fused raw scan.
    "variant_wide" -> ((s, dir) =>
      ext.Dedup.spread(table(s, dir, "events"))
        .withColumn("doc", docBarrier(wideDoc))
        .withColumn("v", expr("parse_json(doc)"))
        .where(expr("variant_get(v, '$.k', 'double') >= 50 AND " +
          "array_size(variant_get(v, '$.tags', 'array<string>')) = 2"))
        .select(col("event_id"),
          expr("variant_get(v, '$.k', 'double')").as("k"),
          expr("variant_get(v, '$.tags[0]', 'string')").as("tag0"),
          expr("variant_get(v, '$.meta.u', 'double')").as("mu"),
          expr("element_at(variant_get(v, '$.nums', 'array<double>'), -1)").as("nlast"))
        .drop("v", "doc")),

    // cross-column fusion showcase (compile.FuseProjectScans): four JMESPath
    // outputs over the same document — the optimizer merges them into ONE
    // streaming scan per record (verified in CrossColumnFusionSpec; the
    // reference parses once per record regardless of output count,
    // main.go:89-90)
    "jmes_multicol" -> ((s, dir) =>
      ext.Dedup.spread(table(s, dir, "events"))
        .select(col("event_id"),
          jmespathDouble(col("props"), "k").as("k"),
          jmesTruthy(col("props"), "k > `50`").as("big"),
          jmespath(col("props"), "[k, `1`]").as("pair"),
          jmespath(col("props"), "{v: k}").as("obj"))),

    // SURVEY §1.2's recommended payload representation: parse once into
    // Spark 4 VariantType, navigate with variant_get (bench A/B vs the
    // JsonPathRaw lowering and the interpreted evaluator)
    "variant_field" -> ((s, dir) =>
      table(s, dir, "events")
        .select(col("event_id"),
          expr("variant_get(parse_json(props), '$.k', 'double')").as("k"))),

    // Variant twin of jmes_multicol: four accesses off ONE parse_json
    // (Spark's subexpression elimination shares the Variant build, the
    // binary-encoded analogue of our fused scan) — the §1.2 A/B pair
    "variant_multicol" -> ((s, dir) =>
      ext.Dedup.spread(table(s, dir, "events"))
        .select(col("event_id"),
          expr("variant_get(parse_json(props), '$.k', 'double')").as("k"),
          expr("variant_get(parse_json(props), '$.k', 'double') > 50").as("big"),
          expr("variant_get(parse_json(props), '$.k', 'string')").as("ks"),
          expr("variant_get(parse_json(props), '$.missing', 'double')").as("m"))),

    // same queries through the interpreted fallback path (kept as operator
    // coverage for JmesPathEval itself and as a bench A/B pair)
    "jmes_field_interp" -> ((s, dir) =>
      table(s, dir, "events")
        .select(col("event_id"), jmespathDouble(col("props"), "k").as("k"))),
    // the wide-document interpreted control: at ~12 B/doc the job floor
    // hides per-record engine cost, so the lowered-vs-interpreted A/B is
    // only meaningful at jmes_wide's ~1 KB documents
    "jmes_wide_interp" -> ((s, dir) =>
      ext.Dedup.spread(table(s, dir, "events"))
        .withColumn("doc", docBarrier(wideDoc))
        .where(jmesTruthy(col("doc"), "k >= `50` && length(tags) == `2`"))
        .select(col("event_id"),
          jmespathDouble(col("doc"), "k").as("k"),
          jmespath(col("doc"), "tags[0]").as("tag0"),
          jmespathDouble(col("doc"), "meta.u").as("mu"),
          jmespathDouble(col("doc"), "nums[-1]").as("nlast"))),
    "jmes_filter_interp" -> ((s, dir) =>
      table(s, dir, "events")
        .where(jmesTruthy(col("props"), "k > `50`"))
        .select(col("event_id"), col("props"))),

    // K1/K2 — `data` output format with separator framing (main.go:85-104)
    "cli_format_data" -> ((s, dir) =>
      table(s, dir, "events")
        .select(col("event_id"), concat(col("props"), lit("\n")).as("line"))),

    // K1 — `sequence` / `partition-key` output formats (main.go:74-83)
    "cli_format_sequence" -> ((s, dir) =>
      table(s, dir, "events")
        .select(col("event_id"), col("event_id").cast("string").as("seq"))),
    "cli_format_partition_key" -> ((s, dir) =>
      table(s, dir, "events")
        .select(col("event_id"), col("user_id").cast("string").as("pk"))),

    // cross-record extension headline: aggregation (bench anchor)
    "q1_agg" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          avg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))),

    // event-time tumbling window aggregation (streaming-compatible shape:
    // the same groupBy(window(...)) works under readStream + watermark)
    "windowed_agg" -> ((s, dir) =>
      table(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), col("sum_value"))),

    // sliding (hopping) event-time window — each event lands in
    // size/slide = 2 windows; same streaming-compatible groupBy(window)
    // shape as windowed_agg, the replication happens at scan time
    "sliding_agg" -> ((s, dir) =>
      table(s, dir, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), col("sum_value"))),

    // exact per-group distinct cardinality (two-stage: partial distinct per
    // partition, final merge). The approximate twin (HyperLogLog
    // approx_count_distinct — what a 100 TB deployment would run, one pass,
    // bounded memory) is gated in SketchSpec: approximation is
    // engine-specific so it can't hash-match a DuckDB oracle
    "distinct_users" -> ((s, dir) =>
      table(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))),

    // exact interpolated percentiles per group (sort-based `percentile`,
    // not the approximate sketch — the sketch variant is spec-gated since
    // approximation is engine-specific)
    "event_quantiles" -> ((s, dir) =>
      table(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.9)").as("p90"),
          expr("percentile(value, 0.99)").as("p99"),
          count(lit(1)).as("n"))),

    // cross-record extension: the selective 3-way join anchor (TPC-H Q3
    // shape) — the dimension side is filtered THEN broadcast so the fact
    // scans never shuffle on the customer key; orders⋈lineitem shuffles
    // on the order key with AQE free to pick/skew-split the join.
    // Revenue is exact integer arithmetic (price cents × discount %,
    // one final division) — a float Σ price·(1−d) is summation-order
    // nondeterministic across engines/partitionings (lm_score pattern)
    "q3_join" -> ((s, dir) => {
      val cust = table(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = table(s, dir, "orders")
        .where(col("o_orderdate") < lit("1998-01-01").cast("date"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      val cents = floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")
      val discPct = floor(col("l_discount") * 100 + lit(0.5)).cast("long")
      table(s, dir, "lineitem")
        .select(col("l_orderkey"), (cents * (lit(100L) - discPct)).as("rev_scaled"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg((sum(col("rev_scaled")).cast("double") / lit(10000.0)).as("revenue"))
    }),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "jmes_field" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k FROM events",
    "jmes_wide" ->
      """SELECT event_id,
        |  CAST(event_id % 100 AS DOUBLE) AS k,
        |  'a' || (event_id % 7) AS tag0,
        |  CAST(user_id AS DOUBLE) AS mu,
        |  CAST(user_id % 9 AS DOUBLE) AS nlast
        |FROM events WHERE event_id % 100 >= 50""".stripMargin,
    "variant_wide" ->
      """SELECT event_id,
        |  CAST(event_id % 100 AS DOUBLE) AS k,
        |  'a' || (event_id % 7) AS tag0,
        |  CAST(user_id AS DOUBLE) AS mu,
        |  CAST(user_id % 9 AS DOUBLE) AS nlast
        |FROM events WHERE event_id % 100 >= 50""".stripMargin,
    // exact engine serialization is reproducible because props.k is always a
    // bare integer in the testdata (checked: 0..99, never missing/decimal)
    "jmes_multicol" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k,
        |  CAST(json_extract_string(props, '$.k') AS DOUBLE) > 50 AS big,
        |  '[' || json_extract_string(props, '$.k') || ',1]' AS pair,
        |  '{"v":' || json_extract_string(props, '$.k') || '}' AS obj
        |FROM events""".stripMargin,
    "jmes_filter_compare" ->
      "SELECT event_id, props FROM events WHERE CAST(json_extract_string(props, '$.k') AS DOUBLE) > 50",
    "jmes_pipeline" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k,
        |  '{"v":' || json_extract_string(props, '$.k') || '}' AS obj
        |FROM events WHERE CAST(json_extract_string(props, '$.k') AS DOUBLE) > 50""".stripMargin,
    "variant_field" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k FROM events",
    "variant_multicol" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k,
        |  CAST(json_extract_string(props, '$.k') AS DOUBLE) > 50 AS big,
        |  json_extract_string(props, '$.k') AS ks,
        |  CAST(NULL AS DOUBLE) AS m
        |FROM events""".stripMargin,
    "jmes_field_interp" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k FROM events",
    "jmes_wide_interp" ->
      """SELECT event_id,
        |  CAST(event_id % 100 AS DOUBLE) AS k,
        |  'a' || (event_id % 7) AS tag0,
        |  CAST(user_id AS DOUBLE) AS mu,
        |  CAST(user_id % 9 AS DOUBLE) AS nlast
        |FROM events WHERE event_id % 100 >= 50""".stripMargin,
    "jmes_filter_interp" ->
      "SELECT event_id, props FROM events WHERE CAST(json_extract_string(props, '$.k') AS DOUBLE) > 50",
    "cli_format_data" ->
      "SELECT event_id, props || chr(10) AS line FROM events",
    "cli_format_sequence" ->
      "SELECT event_id, CAST(event_id AS VARCHAR) AS seq FROM events",
    "cli_format_partition_key" ->
      "SELECT event_id, CAST(user_id AS VARCHAR) AS pk FROM events",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(l_extendedprice) AS sum_base_price,
        |  sum(l_extendedprice * (1.0 - l_discount)) AS sum_disc_price,
        |  avg(l_quantity) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "windowed_agg" ->
      """SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS window_start,
        |  event_type, count(*) AS n, sum(value) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // each event replicated into the two 2h windows covering it
    "sliding_agg" ->
      """WITH w AS (
        |  SELECT unnest([
        |      CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) - INTERVAL 1 HOUR,
        |      CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP)]) AS window_start,
        |    event_type, value
        |  FROM events)
        |SELECT window_start, event_type, count(*) AS n, sum(value) AS sum_value
        |FROM w GROUP BY 1, 2""".stripMargin,
    "distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY event_type""".stripMargin,
    "event_quantiles" ->
      """SELECT event_type,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.9) AS p90,
        |  quantile_cont(value, 0.99) AS p99,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    // exact integer cents×pct sum, one final division (values < 2^53)
    "q3_join" ->
      """SELECT l_orderkey, o_orderdate,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
        |           (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS DOUBLE)
        |    / 10000.0 AS revenue
        |FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < DATE '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate""".stripMargin,
  ) ++ JmesCoverage.oracleSql ++ ext.TextAnalysis.oracleSql ++ ext.Dedup.oracleSql ++
    ext.Similarity.oracleSql ++ ext.Multimodal.oracleSql ++ ext.Sessionize.oracleSql ++
    ext.Curation.oracleSql ++ ext.Hygiene.oracleSql ++ ext.Vocab.oracleSql ++
    ext.Quality.oracleSql ++ ext.Retrieval.oracleSql ++ ext.Joins.oracleSql ++
    ext.Olap.oracleSql ++ ext.Layout.oracleSql ++ ext.Freq.oracleSql ++
    ext.Sft.oracleSql ++ ext.Versioning.oracleSql ++ ext.TopK.oracleSql ++
    ext.Snapshot.oracleSql ++ ext.TimeSeries.oracleSql ++ ext.Behavior.oracleSql ++
    ext.Contract.oracleSql ++ ext.Weak.oracleSql ++ ext.Graph.oracleSql ++
    ext.Web.oracleSql ++ ext.Assoc.oracleSql ++ ext.Fuzzy.oracleSql ++ ext.Prefs.oracleSql ++
    engine.Quarantine.oracleSql ++
    engine.StreamingCoverage.oracleSql
}
