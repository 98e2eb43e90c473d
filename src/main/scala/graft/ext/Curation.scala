package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** End-to-end training-data curation: the composition the individual
  * operators exist for —
  *
  *  1. quality gate: keep documents with [[TextAnalysis.stats]] quality ≥
  *     threshold (narrow, shuffle-free);
  *  2. near-dup collapse: within each [[Dedup.clusters]] component of the
  *     exact-Jaccard pair graph, keep only the representative (min doc_id);
  *     documents in no near-dup pair pass through.
  *
  * Output: the surviving corpus (doc_id, n_tokens, quality), the input to a
  * tokenizer/packer stage. Every stage is itself oracle-gated; this entry
  * gates the composition. */
object Curation {
  private type Q = (SparkSession, String) => DataFrame

  def curate(docs: DataFrame, minQuality: Double = 0.5, jaccardTau: Double = 0.5): DataFrame = {
    val stats = TextAnalysis.stats(docs).select("doc_id", "n_tokens", "quality")
    val clusters = Dedup.clusters(Dedup.jaccardPairs(docs, k = 3, tau = jaccardTau))
    // non-representative near-dups (cluster members that are not the min id)
    val drop = clusters.where(col("doc_id") =!= col("cluster_id")).select("doc_id")
    stats
      .where(col("quality") >= minQuality)
      .join(drop, Seq("doc_id"), "left_anti")
  }

  /** The FULL training-data pipeline — every cross-record stage this library
    * exists for, composed end-to-end into the packed-corpus manifest a
    * tokenizer would consume:
    *
    *  1. eval split: benchmark docs leave the training corpus entirely;
    *  2. repetition gate ([[Hygiene.repetitionGate]], narrow filter);
    *  3. quality gate ([[TextAnalysis.stats]] score ≥ `minQuality`);
    *  4. decontamination: drop any doc sharing a word-`contamK`-gram with
    *     the benchmark ([[Hygiene.contamination]], anti-join);
    *  5. near-dup collapse: keep each [[Dedup.clusters]] component's min
    *     doc_id (pairs computed on the GATED set — cheapest placement);
    *  6. stratified mix ([[Hygiene.stratifiedSample]], narrow filter);
    *  7. sequence packing ([[Hygiene.packSequences]], per-shard window).
    *
    * Stage shapes at 100 TB: 2/3/6 are scan-time filters, 4 is a broadcast
    * anti-join, 5 is the inverted-index pair graph + tiny iterative CC, 7 is
    * one per-shard window — no stage is all-pairs or globally ordered.
    *
    * `materialize` (default true) checkpoints the gated corpus at the stage
    * boundary where the pipeline fans out: `gated` feeds BOTH the near-dup
    * pair graph and the final survivor anti-join, and Spark re-executes
    * repeated subtrees (only exchanges are reused), so without a
    * materialization the repetition + quality + decontamination math runs
    * twice in one job (measured 1.25× end-to-end at sf0.1; with the fused
    * gate, curate_full went 5.8 s → 3.9–4.2 s idle at sf0.1). At 100 TB a
    * deployment would write the stage boundary to durable storage instead
    * (`localCheckpoint` pins executor-local blocks); `materialize = false`
    * keeps the fully-lazy single-plan form for callers that persist their
    * own boundaries. */
  def curateFull(docs: DataFrame, benchmark: DataFrame,
                 minQuality: Double = 0.5, jaccardTau: Double = 0.5,
                 contamK: Int = 4, rates: Map[String, Double] = Hygiene.GateRates,
                 ctxLen: Int = 256, materialize: Boolean = true): DataFrame = {
    // Contamination probes the RAW corpus, not the gated survivors: a doc's
    // contamination depends only on its own k-grams, so both orders are
    // row-identical — and keeping it independent of the gate subtree means
    // the checkpointed boundary below contains every cross-stage reuse.
    val contaminated = Hygiene.contamination(docs, benchmark, contamK).select("doc_id")
    val gatedLazy = fusedGate(docs, minQuality)
      .join(contaminated, Seq("doc_id"), "left_anti")
    // A checkpointed DF has no inputFiles, so the downstream jaccardPairs
    // small-file spread heuristic can't see underparallelized scans anymore —
    // apply the same spread here, before materializing (no-op at real scale
    // where the scan already has ≥ defaultParallelism splits).
    val gated = if (materialize) {
      val par = docs.sparkSession.sparkContext.defaultParallelism
      val nFiles = docs.inputFiles.length
      val spread = if (nFiles > 0 && nFiles < par) gatedLazy.repartition(par) else gatedLazy
      spread.localCheckpoint()
    } else gatedLazy
    val dupDrop = Dedup.clusters(Dedup.jaccardPairs(gated, k = 3, tau = jaccardTau))
      .where(col("doc_id") =!= col("cluster_id")).select("doc_id")
    val mixed = Hygiene.stratifiedSample(
      gated.join(dupDrop, Seq("doc_id"), "left_anti"), col("lang"), rates)
    Hygiene.packSequences(mixed, ctxLen)
  }

  /** The capstone composition: FULL curation → packed manifest → ATOMIC
    * publish, plus the dataset card — "cut a data release" as one call.
    * The [[curateFull]] manifest is published as an immutable [[Snapshot]]
    * version (a crashed release leaves the previous one live; consumers
    * repoint in one swap), and the returned card is the per-source
    * accounting table release notes publish — computed FROM the published
    * snapshot, so the card can never describe data that didn't land.
    * Epoch ordering stays the dataloader's call via
    * [[Hygiene.shuffleOrder]] over the published manifest. */
  def release(corpus: DataFrame, benchmark: DataFrame, root: String,
              minQuality: Double = 0.5, ctxLen: Int = 256): (Long, DataFrame) = {
    val spark = corpus.sparkSession
    val packed = curateFull(corpus, benchmark, minQuality = minQuality, ctxLen = ctxLen)
    val v = Snapshot.publish(packed, root)
    val published = Snapshot.readCurrent(spark, root)
    val card = published
      .groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        countDistinct(col("chunk_id")).as("n_chunks"))
      .withColumn("version", lit(v))
    (v, card)
  }

  /** Leakage-safe train/heldout split — the cross-split decontamination
    * step run before training: a deterministic sha256 hash of `doc_id`
    * sends each document to `heldout` (u < `heldoutFrac`) or `train`, then
    * any TRAIN document that near-duplicates (k-shingle Jaccard ≥ `tau`) a
    * heldout document is dropped from train, so evaluation on the heldout
    * half cannot be inflated by memorized near-copies (the GPT-3 Appendix-C
    * / eval-decontamination discipline, applied at split time rather than
    * against an external benchmark — [[Hygiene.contamination]] covers that
    * case).
    *
    * Heldout docs are never dropped: leakage removal is one-sided, the
    * heldout set stays an unbiased sample of the corpus.
    *
    * Scale shape: the cross-split pair graph is
    * [[Dedup.jaccardPairsWhere]] with the side-disjointness predicate
    * pushed into the candidate join — one inverted-index pass over the
    * whole corpus, never a train×heldout cartesian; since the side is a
    * pure function of `doc_id`, no side column rides the shingle/df/prefix
    * shuffles (the predicate recomputes an 8-byte-input sha per candidate).
    * The final anti-join's right side is only the leaky train docs
    * (bounded by the pair count), broadcast. */
  def leakageSafeSplit(docs: DataFrame, heldoutFrac: Double = 0.1,
                       k: Int = 3, tau: Double = 0.5): DataFrame = {
    require(heldoutFrac > 0 && heldoutFrac < 1, "heldoutFrac in (0, 1)")
    def held(id: Column): Column = Hygiene.hashU(id) < heldoutFrac
    val cross = Dedup.jaccardPairsWhere(docs, (a, b) => held(a) =!= held(b), k, tau)
    val leakyTrain = cross
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .where(!held(col("doc_id")))
      .distinct()
    // redundant-inference scope (r16): the final frame chains from `docs`
    // (base session), so the PPJoin subtree's scope from jaccardPairsWhere
    // would NOT govern this query's optimization — re-scope the returned
    // frame (InferProbe measured −62% at sf0.1: the inferred
    // size(shingle_array) filters were the dominant leakage_split cost)
    ConfScope.noInferredFilters(
      docs.select(col("doc_id"),
          when(held(col("doc_id")), lit("heldout")).otherwise(lit("train")).as("split"))
        .join(broadcast(leakyTrain), Seq("doc_id"), "left_anti"))
  }

  /** [[Hygiene.repetitionGate]] ∧ [[TextAnalysis.qualityGate]] as ONE
    * scan-time filter over ONE materialized tokenization (the two
    * pass-through gates each split `text` themselves — composing them
    * tokenizes the corpus twice; the conjunction of the identical predicate
    * expressions over a shared `__w` is row-equivalent and measured ~15%
    * off the curate_full stage-boundary job at sf0.1). The token and
    * trigram arrays are materialized columns below the filter — every
    * lambda and the twice-read trigram fraction see a concrete array, the
    * [[Hygiene.ngramsOf]] re-evaluation contract. */
  private[ext] def fusedGate(docs: DataFrame, minQuality: Double,
                        maxDupWordFrac: Double = 0.55,
                        maxDup3GramFrac: Double = 0.01): DataFrame = {
    val w = col("__w"); val tri = col("__tri")
    val nTok = size(w)
    val nStop = size(filter(w, t => t.isInCollection(TextAnalysis.Stopwords)))
    val avgLen = (length(col("text")) - (nTok - 1)).cast("double") / nTok
    val quality =
      lit(0.4) * least(nTok / lit(64.0), lit(1.0)) +
        lit(0.3) * (nStop.cast("double") / nTok) +
        lit(0.3) * least(avgLen / lit(8.0), lit(1.0))
    docs.withColumn("__w", split(col("text"), " "))
      .withColumn("__tri", Hygiene.ngramsOf(col("text"), 3))
      .where(
        (lit(1.0) - size(array_distinct(w)).cast("double") / size(w))
          <= maxDupWordFrac &&
        when(size(tri) === 0, lit(0.0)) // short doc: no 3-gram evidence (ANSI /0)
          .otherwise(lit(1.0) - size(array_distinct(tri)).cast("double") / size(tri))
          <= maxDup3GramFrac &&
        quality >= minQuality)
      .drop("__w", "__tri")
  }

  /** Token-budget selection — the final sizing step of every training-mix
    * recipe: per stratum (language, source, domain), rank documents by a
    * caller-supplied quality score (descending, doc_id tiebreak) and keep
    * the best until the stratum's CUMULATIVE token count reaches `budget`.
    * The document that crosses the line is kept (budgets are targets, not
    * hard caps — dropping it would systematically bias against long
    * documents at the boundary).
    *
    * One co-partitioning exchange on the stratum key, then a running-sum
    * window inside each stratum — the [[Hygiene.packSequences]] shape:
    * strata process in parallel, nothing global-sorts, and per-row state
    * is one BIGINT. Scores and token counts are integers, so the rank
    * order and the boundary compare have no float edge. */
  def budgetSelect(docs: DataFrame, strataCol: Column, score: Column,
                   nTokens: Column, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("stratum").orderBy(desc("score"), asc("doc_id"))
    docs.select(col("doc_id"), strataCol.as("stratum"),
        score.cast("long").as("score"), nTokens.cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .where(col("cum_tokens") - col("n_tokens") < budget)
  }

  /** One-call training-readiness summary — the health numbers a run
    * reviews before committing GPUs to a corpus, as a tall (metric,
    * value) table: volume (docs, tokens), diversity (sources, languages),
    * integrity (exact-duplicate docs via content hash, empty docs), and
    * the token-length envelope. Every value is an exact integer from ONE
    * aggregation pass (the distinct counts share the scan through
    * Expand); compose with [[graft.ext.Contract.contractReport]] and
    * [[graft.ext.Quality.driftReport]] for rule-level and
    * distribution-level depth. */
  def readinessReport(docs: DataFrame): DataFrame = {
    val toks = size(split(col("text"), " "))
    val row = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(toks.cast("long")).as("n_tokens"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      (count(lit(1)) - countDistinct(sha2(col("text"), 256))).as("n_exact_dup_docs"),
      sum(when(length(col("text")) === 0, 1L).otherwise(0L)).as("n_empty_docs"),
      max(toks.cast("long")).as("max_tokens"),
      min(toks.cast("long")).as("min_tokens"))
    val metrics = Seq("n_docs", "n_tokens", "n_sources", "n_langs",
      "n_exact_dup_docs", "n_empty_docs", "max_tokens", "min_tokens")
    row.select(map(metrics.flatMap(m => Seq(lit(m), col(m))): _*).as("__m"))
      .select(explode(col("__m")).as(Seq("metric", "value")))
  }

  /** GROUPED k-fold assignment for cross-validation: every row of a
    * group lands in the same fold (no group straddles a fold boundary —
    * the grouped-CV leakage guard), folds are a pure function of the
    * group key ([[Hygiene.hashU64]], the library-wide sampling hash), so
    * the assignment is reproducible across runs, engines, and
    * partitionings, and needs no shuffle — a scan-time map. */
  def kfoldAssign(df: DataFrame, groupKey: Column, k: Int = 5): DataFrame = {
    require(k >= 2, "need at least two folds")
    df.withColumn("fold", pmod(Hygiene.hashU64(groupKey), lit(k.toLong)))
  }

  /** TIME-based train/test split with an EMBARGO gap — the temporal twin
    * of [[leakageSafeSplit]]: test is strictly after `boundaryUs`, train
    * strictly before `boundaryUs − embargoUs`, and rows inside the gap
    * are DROPPED, so nothing temporally adjacent to the test period
    * leaks into training (label autocorrelation, the backtesting /
    * forecasting leakage mode). Pure scan-time filter — at 100 TB this
    * prunes at the parquet scan when the table is time-partitioned. */
  def temporalSplit(df: DataFrame, tsCol: String, boundaryUs: Long,
                    embargoSeconds: Long): DataFrame = {
    require(embargoSeconds >= 0, "embargo must be non-negative")
    val us = unix_micros(col(tsCol))
    df.withColumn("split",
        when(us <= boundaryUs - embargoSeconds * 1000000L, "train")
          .when(us > boundaryUs, "test"))
      .where(col("split").isNotNull)
  }

  val queries: Map[String, Q] = Map(
    // user-grouped 5-fold assignment over the event log
    "kfold_assign" -> ((s, dir) =>
      kfoldAssign(SparkEntry.table(s, dir, "events"), col("user_id"))
        .select("event_id", "user_id", "fold")),
    // boundary 2024-01-22T00:00Z with a 1-day embargo over the event log
    "temporal_split" -> ((s, dir) =>
      temporalSplit(SparkEntry.table(s, dir, "events"), "ts",
        boundaryUs = 1705881600000000L, embargoSeconds = 86400L)
        .select("event_id", "split")),
    "curate_pipeline" -> ((s, dir) => curate(SparkEntry.table(s, dir, "documents"))),
    "readiness_report" -> ((s, dir) =>
      readinessReport(SparkEntry.table(s, dir, "documents"))),
    // per-language budget of 3000 tokens; n_chars as the integer quality
    // signal (longer docs ranked first — the gate exercises ordering,
    // accumulation, and the boundary-crossing keep rule)
    "budget_select" -> ((s, dir) => {
      val docs = SparkEntry.table(s, dir, "documents")
      budgetSelect(docs, col("lang"), col("n_chars"),
        size(split(col("text"), " ")), budget = 3000L)
    }),
    "curate_full" -> ((s, dir) => {
      val docs = SparkEntry.table(s, dir, "documents")
      curateFull(docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0))
    }),
    "leakage_split" -> ((s, dir) =>
      leakageSafeSplit(SparkEntry.table(s, dir, "documents"), heldoutFrac = 0.2)),
  )

  val oracleSql: Map[String, String] = Map(
    // the identical first-8-hex-chars-of-sha256 fold hash
    "kfold_assign" ->
      """SELECT event_id, user_id,
        |  CAST(('0x' || substring(sha256(CAST(user_id AS VARCHAR)), 1, 8))
        |    AS BIGINT) % 5 AS fold
        |FROM events""".stripMargin,
    "temporal_split" ->
      """SELECT event_id,
        |  CASE WHEN epoch_us(ts) <= 1705881600000000 - 86400000000 THEN 'train'
        |       WHEN epoch_us(ts) > 1705881600000000 THEN 'test' END AS split
        |FROM events
        |WHERE epoch_us(ts) <= 1705881600000000 - 86400000000
        |   OR epoch_us(ts) > 1705881600000000""".stripMargin,
    "readiness_report" ->
      """WITH a AS (SELECT
        |  count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  count(DISTINCT source) AS n_sources,
        |  count(DISTINCT lang) AS n_langs,
        |  count(*) - count(DISTINCT sha256(text)) AS n_exact_dup_docs,
        |  CAST(sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_docs,
        |  CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens,
        |  CAST(min(len(string_split(text, ' '))) AS BIGINT) AS min_tokens
        |FROM documents)
        |SELECT 'n_docs' AS metric, n_docs AS value FROM a
        |UNION ALL SELECT 'n_tokens', n_tokens FROM a
        |UNION ALL SELECT 'n_sources', n_sources FROM a
        |UNION ALL SELECT 'n_langs', n_langs FROM a
        |UNION ALL SELECT 'n_exact_dup_docs', n_exact_dup_docs FROM a
        |UNION ALL SELECT 'n_empty_docs', n_empty_docs FROM a
        |UNION ALL SELECT 'max_tokens', max_tokens FROM a
        |UNION ALL SELECT 'min_tokens', min_tokens FROM a""".stripMargin,
    // same window: budget keeps every doc whose PRE-sum is under the line
    "budget_select" ->
      """WITH t AS (SELECT doc_id, lang AS stratum,
        |    CAST(n_chars AS BIGINT) AS score,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, stratum, score, n_tokens,
        |  CAST(sum(n_tokens) OVER (PARTITION BY stratum
        |    ORDER BY score DESC, doc_id) AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT doc_id, stratum, score, n_tokens, cum_tokens
        |FROM c WHERE cum_tokens - n_tokens < 3000""".stripMargin,
    "curate_pipeline" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        |st AS (
        |  SELECT doc_id, len(t) AS n_tokens, length(text) AS len_chars,
        |    len(list_filter(t, x -> x IN ('the', 'a', 'data', 'value'))) AS n_stop
        |  FROM toks),
        |q AS (
        |  SELECT doc_id, n_tokens,
        |    0.4 * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) +
        |    0.3 * (CAST(n_stop AS DOUBLE) / n_tokens) +
        |    0.3 * least((CAST(len_chars - (n_tokens - 1) AS DOUBLE) / n_tokens) / 8.0, 1.0)
        |      AS quality
        |  FROM st),
        |d AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(string_split(text,' ')) >= 3 THEN
        |      list_transform(generate_series(1, len(string_split(text,' ')) - 2),
        |        i -> array_to_string(string_split(text,' ')[i:i+2], ' '))
        |      ELSE [text] END) AS sh
        |  FROM documents),
        |inv AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM d),
        |co AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter,
        |    any_value(x.n) AS na, any_value(y.n) AS nb
        |  FROM inv x JOIN inv y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY x.doc_id, y.doc_id),
        |p AS (SELECT id_a, id_b FROM co
        |      WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5),
        |e AS (SELECT id_a AS a, id_b AS b FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)
        |SELECT q.doc_id, q.n_tokens, q.quality
        |FROM q
        |WHERE q.quality >= 0.5
        |  AND q.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)""".stripMargin,

    // curateFull mirror: each CTE is the proven oracle fragment of its stage
    // (repetition_stats / curate_pipeline / contamination / pack_sequences),
    // restricted to the upstream survivors exactly as the Spark composition is
    "curate_full" ->
      """WITH RECURSIVE
        |corpus AS (SELECT * FROM documents WHERE doc_id % 50 != 0),
        |tk AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM corpus),
        |rep AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, w,
        |      CASE WHEN len(w) >= 3 THEN list_transform(generate_series(1, len(w)-2),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) ELSE [] END AS tri
        |    FROM tk)
        |  WHERE 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) <= 0.55
        |    AND 1.0 - CAST(len(list_distinct(tri)) AS DOUBLE) / len(tri) <= 0.01),
        |q AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, len(w) AS n_tokens, length(text) AS len_chars,
        |      len(list_filter(w, x -> x IN ('the', 'a', 'data', 'value'))) AS n_stop
        |    FROM tk)
        |  WHERE 0.4 * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) +
        |        0.3 * (CAST(n_stop AS DOUBLE) / n_tokens) +
        |        0.3 * least((CAST(len_chars - (n_tokens - 1) AS DOUBLE) / n_tokens) / 8.0, 1.0)
        |        >= 0.5),
        |g4 AS (SELECT doc_id, CASE WHEN len(string_split(text,' ')) >= 4 THEN
        |    list_distinct(list_transform(generate_series(1, len(string_split(text,' '))-3),
        |      i -> array_to_string(string_split(text,' ')[i:i+3], ' ')))
        |  ELSE [] END AS gr FROM documents),
        |bench AS (SELECT DISTINCT unnest(gr) AS g FROM g4 WHERE doc_id % 50 = 0),
        |contam AS (
        |  SELECT DISTINCT doc_id FROM
        |    (SELECT doc_id, unnest(gr) AS g FROM g4 WHERE doc_id % 50 != 0) c
        |  JOIN bench USING (g)),
        |gated AS (
        |  SELECT c.* FROM corpus c
        |  JOIN rep USING (doc_id) JOIN q USING (doc_id)
        |  WHERE c.doc_id NOT IN (SELECT doc_id FROM contam)),
        |d AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(string_split(text,' ')) >= 3 THEN
        |      list_transform(generate_series(1, len(string_split(text,' ')) - 2),
        |        i -> array_to_string(string_split(text,' ')[i:i+2], ' '))
        |      ELSE [text] END) AS sh
        |  FROM gated),
        |inv AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM d),
        |co AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter,
        |    any_value(x.n) AS na, any_value(y.n) AS nb
        |  FROM inv x JOIN inv y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY x.doc_id, y.doc_id),
        |p AS (SELECT id_a, id_b FROM co
        |      WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5),
        |e AS (SELECT id_a AS a, id_b AS b FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
        |mixed AS (
        |  SELECT * FROM gated
        |  WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)
        |    AND CAST(('0x' || substring(sha256(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |          / 4294967296.0
        |      < CASE lang WHEN 'en' THEN 0.9 WHEN 'fr' THEN 0.5 WHEN 'de' THEN 0.5
        |                  WHEN 'es' THEN 0.25 WHEN 'zh' THEN 0.1 ELSE 0.0 END),
        |o AS (SELECT doc_id, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  -- DuckDB SUM(BIGINT) widens to HUGEINT; pin the driver-compared type
        |  CAST(COALESCE(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
        |    OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        | FROM mixed)
        |SELECT doc_id, source, n_tokens, start_offset,
        |  start_offset // 256 AS chunk_id,
        |  start_offset % 256 AS offset_in_chunk
        |FROM o""".stripMargin,

    // leakageSafeSplit mirror: the curate_pipeline shingle/pair fragment,
    // restricted to cross-side pairs, then the one-sided train drop
    "leakage_split" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substring(sha256(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      / 4294967296.0 < 0.2 AS held
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(string_split(text,' ')) >= 3 THEN
        |      list_transform(generate_series(1, len(string_split(text,' ')) - 2),
        |        i -> array_to_string(string_split(text,' ')[i:i+2], ' '))
        |      ELSE [text] END) AS sh
        |  FROM documents),
        |inv AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM d),
        |co AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter,
        |    any_value(x.n) AS na, any_value(y.n) AS nb
        |  FROM inv x JOIN inv y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY x.doc_id, y.doc_id),
        |p AS (SELECT id_a, id_b FROM co
        |      WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5),
        |xp AS (SELECT p.id_a, p.id_b FROM p
        |       JOIN u a ON a.doc_id = p.id_a JOIN u b ON b.doc_id = p.id_b
        |       WHERE a.held <> b.held),
        |leaky AS (
        |  SELECT DISTINCT i.doc_id FROM
        |    (SELECT id_a AS doc_id FROM xp UNION ALL SELECT id_b FROM xp) i
        |  JOIN u ON u.doc_id = i.doc_id WHERE NOT u.held)
        |SELECT doc_id, CASE WHEN held THEN 'heldout' ELSE 'train' END AS split
        |FROM u WHERE doc_id NOT IN (SELECT doc_id FROM leaky)""".stripMargin,
  )
}
