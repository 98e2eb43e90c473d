package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** Full-text retrieval over the corpus: an inverted-index statistics job and
  * BM25 top-k search against a broadcast query set — the lexical-search leg
  * of a training-data pipeline (contamination lookups, "find documents about
  * X" corpus probes, sparse retrieval for hard-negative mining alongside
  * [[Similarity]]'s dense ANN).
  *
  * Scale design (100 TB):
  *  - `index` is the classic two-stage IDF job: explode → partial-agg
  *    (map-side combine collapses each partition to its local vocabulary)
  *    → one shuffle keyed by term. Postings stats, never posting LISTS, are
  *    materialized — df/cf per term is what scoring needs.
  *  - `bm25` never shuffles the corpus at all: the query set (a handful of
  *    rows) is joined to the tiny df table and broadcast; term frequencies
  *    are computed per document from the row's own token array
  *    (`size(filter(toks, = t))` — narrow, codegen'd); the only exchanges
  *    are the |terms|-row df aggregate, the 1-row corpus stats aggregate,
  *    and the final top-k.
  *  - top-k relies on Spark 4's rank-limit pushdown: the planner places a
  *    `WindowGroupLimit` below the exchange, so each task ships ≤ k rows
  *    per query — the salted two-phase pattern, planned automatically
  *    (pinned in PlanSpec; without it a |Q|-partition window would funnel
  *    the whole scored corpus through |Q| tasks).
  *  - scoring arithmetic is bit-reproducible cross-engine: the rational
  *    Robertson idf `(N − df + ½)/(df + ½)` (the log wrapper is monotone —
  *    identical per-term RANKING — but `ln` is libm-dependent at the last
  *    ulp, the [[Quality]] sigmoid posture) and driver-gate queries carry
  *    exactly TWO terms, so the score is one commutative double add of two
  *    identically-shaped products — no summation-order dependence. The
  *    general API takes any number of terms and folds them in query order
  *    (spec-gated in RetrievalSpec; same-JVM exact).
  */
object Retrieval {
  private type Q = (SparkSession, String) => DataFrame

  val K1 = 1.2
  val B  = 0.75

  private def toks(text: Column): Column =
    filter(split(text, " "), w => length(w) > 0)

  /** Shared ranker base (r14): ONE native byte scan per document
    * ([[graft.functions.TermCounts]]) yields every query term's tf plus
    * dl — the per-(doc × query-term) `size(filter(toks, ===))`
    * interpreted scan is gone, and the corpus-wide df pass collapses to
    * one aggregation over the same vector (df(term) = docs with
    * tf > 0, exactly the old distinct-explode count). */
  private def termBase(docs: DataFrame,
                       queries: Seq[(String, Seq[String])]): (Seq[String], DataFrame) = {
    val terms = queries.flatMap(_._2).distinct
    val d = docs.select(col("doc_id"),
        graft.functions.vectors.termCounts(col("text"), terms).as("__tc"))
      .withColumn("dl", element_at(col("__tc"), terms.length + 1).cast("double"))
    (terms, d)
  }

  /** ONE corpus pass for BOTH the 1-row corpus stats (n, total token
    * count) and every query term's df (r16): the rankers previously ran a
    * stats aggregate and a per-term df aggregate as two separate corpus
    * scans — and simply branching the two off one shared lazy aggregate
    * does NOT merge them (column pruning specializes each branch's
    * aggregate, so ReuseExchange sees two different exchanges; measured
    * in Bm25PlanProbe). This single-row aggregate carries n, total, and
    * one df column per distinct query term, and has exactly ONE consumer
    * ([[qtermsWithStats]] cross-joins it into the query fold table), so
    * the plan keeps one corpus scan for all ranking statistics and stays
    * fully lazy. Arithmetic is unchanged: identical count/sum/when
    * shapes, so every df/n/total double is bit-equal to the two-pass
    * form and the SQL oracles hold. An empty corpus yields
    * n=0/total=0/df=0 (SUM's NULL coalesced — no ranker can score a row
    * of an empty corpus anyway, so the historical empty shape holds). */
  private def combinedStats(d: DataFrame, terms: Seq[String]): DataFrame = {
    val statAggs = Seq(
      count(lit(1)).cast("double").as("n"),
      coalesce(sum(element_at(col("__tc"), terms.length + 1)).cast("double"),
        lit(0.0)).as("total"))
    val dfAggs = terms.zipWithIndex.map { case (_, i) =>
      coalesce(sum(when(element_at(col("__tc"), i + 1) > 0L, 1.0)
        .otherwise(0.0)), lit(0.0)).as(s"__df_$i") }
    val aggs = statAggs ++ dfAggs
    d.agg(aggs.head, aggs.tail: _*)
  }

  /** Per-query fold table WITH the corpus stats riding along (r16): the
    * (pos, term, df, ti) fold structs of [[qtermsOf]] plus `n`/`total`
    * columns, all derived from the ONE [[combinedStats]] row — so the
    * rankers' entire broadcast side consumes a single corpus aggregate.
    * The df lookup is an `element_at` over the df column array at the
    * term's literal slot (terms are a plan-time list), replacing the df
    * broadcast join. A query with an empty term list explodes to no rows
    * and disappears from the rankings — the historical empty shape. */
  private def qtermsWithStats(spark: SparkSession,
                              queries: Seq[(String, Seq[String])],
                              terms: Seq[String], base: DataFrame): DataFrame = {
    import spark.implicits._
    val tiMap = typedLit(terms.zipWithIndex.map { case (t, i) => t -> (i + 1) }.toMap)
    val dfArr = array(terms.indices.map(i => col(s"__df_$i")): _*)
    queries.toDF("query_id", "terms")
      .select(col("query_id"), posexplode(col("terms")).as(Seq("pos", "term")))
      .crossJoin(base)
      .withColumn("ti", element_at(tiMap, col("term")))
      .withColumn("df", element_at(dfArr, col("ti")))
      .groupBy("query_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("term"), col("df"), col("ti"))))
          .as("qterms"),
        first(col("n")).as("n"), first(col("total")).as("total"))
  }

  /** Per-query fold table: (pos, term, df, ti) sorted by query position;
    * `ti` is the term's 1-based [[TermCounts]] slot, so the scoring fold
    * reads tf as one `element_at`. */
  private def qtermsOf(spark: SparkSession, queries: Seq[(String, Seq[String])],
                       terms: Seq[String], dfreq: DataFrame): DataFrame = {
    import spark.implicits._
    val tiMap = typedLit(terms.zipWithIndex.map { case (t, i) => t -> (i + 1) }.toMap)
    queries.toDF("query_id", "terms")
      .select(col("query_id"), posexplode(col("terms")).as(Seq("pos", "term")))
      .join(dfreq, Seq("term"), "left")
      .na.fill(0.0, Seq("df"))
      .withColumn("ti", element_at(tiMap, col("term")))
      .groupBy("query_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("term"), col("df"), col("ti"))))
        .as("qterms"))
  }

  /** tf of the fold row's term, off the native per-doc vector. */
  private def tfOf(qt: Column): Column =
    element_at(col("__tc"), qt.getField("ti")).cast("double")

  /** Inverted-index statistics: per term, document frequency `df` and
    * collection frequency `cf`. Per-doc term frequencies are computed
    * ROW-LOCALLY by the native [[graft.functions.TermTfEntries]] generator
    * (r19, guide §2.4): the previous `groupBy(doc_id, term)` stage
    * shuffled corpus-sized token pairs even though every group lives
    * inside one source row — partial aggregation had already finished the
    * counts before the exchange moved them. One per-term aggregation
    * remains, partial-aggregating to |vocab| rows per task. */
  def index(docs: DataFrame): DataFrame =
    docs.select(explode(
        graft.functions.TermTfEntries.termTfEntries(toks(col("text")))).as("e"))
      .groupBy(col("e.term").as("term"))
      .agg(count(lit(1)).as("df"), sum(col("e.tf")).as("cf"))

  /** BM25 top-`k` documents per query. `queries` = (query_id, terms).
    * Driver-gate invocations use two-term queries (see class doc); the fold
    * over `terms` runs in query order for determinism at any arity. */
  def bm25(docs: DataFrame, queries: Seq[(String, Seq[String])], k: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    val (terms, d) = termBase(docs, queries)

    // corpus stats (N, avgdl numerator) AND every term's df from ONE
    // single-row corpus aggregate riding the broadcast side (r16 — see
    // qtermsWithStats; the old separate stats + df aggregates cost two
    // extra corpus scans, and branching them off one lazy aggregate is
    // pruned apart by Catalyst into two again).
    val q = qtermsWithStats(spark, queries, terms, combinedStats(d, terms))

    // Narrow per-(doc × query) scoring: fold the query's (term, df) pairs in
    // query order. Arithmetic shape mirrors the oracle exactly.
    val scored = d
      .crossJoin(broadcast(q))
      .withColumn("score",
        aggregate(col("qterms"), lit(0.0), (acc, qt) => {
          val tf  = tfOf(qt)
          val df  = qt.getField("df")
          val idf = (col("n") - df + lit(0.5)) / (df + lit(0.5))
          acc + idf * ((tf * lit(K1 + 1.0)) /
            (tf + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / (col("total") / col("n")))))
        }))
      .select(col("query_id"), col("doc_id"), col("score"))

    // Top-k per query. One window suffices at any scale: Spark 4 plans a
    // WindowGroupLimit BELOW the exchange (rank-limit pushdown), so each
    // task ships at most k rows per query before the per-query sort — the
    // two-phase salted pattern, planned automatically (pinned in PlanSpec).
    val w = Window.partitionBy(col("query_id")).orderBy(desc("score"), asc("doc_id"))
    scored
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank"), col("score"))
  }

  /** Persist the BM25 statistics index: the [[index]] df/cf table plus a
    * 1-row corpus-stats table (N, total token count) — everything
    * [[bm25]] derives per query, paid once. Layout: `path/dfreq` +
    * `path/stats`. */
  def saveBm25Index(docs: DataFrame, path: String): Unit = {
    val d = docs.select(col("doc_id"), toks(col("text")).as("toks"))
    d.select(explode(array_distinct(col("toks"))).as("term"))
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
      .write.mode("overwrite").parquet(s"$path/dfreq")
    d.agg(count(lit(1)).cast("double").as("n"),
        sum(size(col("toks"))).cast("double").as("total"))
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Incremental statistics maintenance: fold a NEW document batch into a
    * [[saveBm25Index]] directory — df/cf-style statistics are plain sums,
    * so the merge is a union + re-aggregate of the |vocab|-sized table,
    * never a corpus re-scan. The merged tables are `localCheckpoint`ed
    * BEFORE the overwrite (read-then-overwrite on the same path is a
    * self-clobber otherwise); deployments wanting crash-atomicity wrap
    * the directory in [[graft.ext.Snapshot]] versions. Counts stay
    * integer-valued doubles, so merged-index scores are bit-identical to
    * a full rebuild over the union corpus (spec-pinned). Same caller
    * contract as [[appendPhraseIndex]]: a doc_id joins at most once. */
  def mergeBm25Index(spark: SparkSession, path: String, batch: DataFrame): Unit = {
    val d = batch.select(col("doc_id"), toks(col("text")).as("toks"))
    val bDf = d.select(explode(array_distinct(col("toks"))).as("term"))
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val mergedDf = spark.read.parquet(s"$path/dfreq").unionByName(bDf)
      .groupBy("term").agg(sum(col("df")).as("df"))
      .localCheckpoint(true)
    mergedDf.write.mode("overwrite").parquet(s"$path/dfreq")
    val bStats = d.agg(count(lit(1)).cast("double").as("n"),
      sum(size(col("toks"))).cast("double").as("total"))
    val mergedStats = spark.read.parquet(s"$path/stats").unionByName(bStats)
      .agg(sum(col("n")).as("n"), sum(col("total")).as("total"))
      .localCheckpoint(true)
    mergedStats.write.mode("overwrite").parquet(s"$path/stats")
  }

  /** BM25 top-k against a [[saveBm25Index]] directory: identical scoring
    * arithmetic to [[bm25]], but the df join and corpus stats come from
    * the persisted index instead of two corpus aggregations — the query
    * path reads |terms| rows of df + 1 stats row + ONE corpus scan for
    * scoring. Counts frozen at index time: a corpus drifted since the
    * last [[saveBm25Index]] scores with stale idf (rankings degrade
    * gracefully; re-index on the [[graft.ext.Quality.driftReport]]
    * signal). */
  def bm25Indexed(docs: DataFrame, spark: SparkSession, path: String,
                  queries: Seq[(String, Seq[String])], k: Int = 10): DataFrame = {
    val (terms, d) = termBase(docs, queries)
    val stats = spark.read.parquet(s"$path/stats")
    val dfreq = spark.read.parquet(s"$path/dfreq")
    val q = qtermsOf(spark, queries, terms,
      dfreq.where(col("term").isin(terms: _*)))
    val scored = d
      .crossJoin(broadcast(q.crossJoin(stats)))
      .withColumn("score",
        aggregate(col("qterms"), lit(0.0), (acc, qt) => {
          val tf  = tfOf(qt)
          val df  = qt.getField("df")
          val idf = (col("n") - df + lit(0.5)) / (df + lit(0.5))
          acc + idf * ((tf * lit(K1 + 1.0)) /
            (tf + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / (col("total") / col("n")))))
        }))
      .select(col("query_id"), col("doc_id"), col("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("score"), asc("doc_id"))
    scored
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank"), col("score"))
  }

  /** Linear TF-IDF ranking — the second voice for [[rrfFusion]]: same
    * rational Robertson idf as [[bm25]] but LINEAR tf and no length
    * normalization, so the two rankers genuinely disagree (a long document
    * repeating a term climbs here, saturates there). Same plan shape as
    * [[bm25]]: corpus never shuffles, queries broadcast, rank-limit
    * pushdown top-k. */
  def tfidfRank(docs: DataFrame, queries: Seq[(String, Seq[String])], k: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    val (terms, d) = termBase(docs, queries)
    // shared single-pass stats+df broadcast side (r16); tfidf reads only
    // n of the stats columns
    val q = qtermsWithStats(spark, queries, terms, combinedStats(d, terms))
    val scored = d
      .crossJoin(broadcast(q))
      .withColumn("score",
        aggregate(col("qterms"), lit(0.0), (acc, qt) => {
          val tf = tfOf(qt)
          val df = qt.getField("df")
          acc + tf * ((col("n") - df + lit(0.5)) / (df + lit(0.5)))
        }))
      .select(col("query_id"), col("doc_id"), col("score"))
      // rows scoring 0 match no query term — not retrieval results, and
      // including them would let rank explode to corpus size
      .where(col("score") > 0)
    val w = Window.partitionBy(col("query_id")).orderBy(desc("score"), asc("doc_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of the BM25 and linear
    * TF-IDF rankings: `Σ 1/(c + rank)` over the systems that retrieved the
    * document in their top-`depth`, fused list cut to top-`k`.
    *
    * ONE corpus pass: both scores are computed in the same scored
    * projection (the tokenization, df table, and corpus stats are shared —
    * running the two rankers as separate jobs would tokenize and scan the
    * corpus twice), and each ranking reduces through a [[TopKAgg]] partial
    * aggregate, so every partition ships ≤ depth rows per query per system.
    * The tfidf leg ranks only positive scores (a zero score matches no
    * query term) — filtered inside the aggregate via `minScoreExclusive`,
    * which preserves ranks because positives always sort before zeros. The
    * fusion join touches |queries|·depth rows per system regardless of
    * corpus size.
    *
    * Determinism: each contribution is one double division with integer
    * inputs and the sum runs in fixed system order (bm25 + tfidf), so the
    * oracle reproduces the score bit-exactly; ties break on doc_id. */
  /** The dual-ranker top-`depth` aggregation shared by [[rrfFusion]] and
    * [[rbo]] (r16): ONE scored corpus pass computes BOTH scores (the
    * arithmetic shapes EXACTLY as in bm25()/tfidfRank() — list
    * membership and order must stay bit-identical to the standalone
    * rankers'), and each ranking reduces through a partial top-k
    * aggregate — ≤ depth rows per query per system cross the wire. The
    * tfidf leg ranks only positive scores (`minScoreExclusive` — a zero
    * score matches no query term), which preserves ranks because
    * positives always sort before zeros. Output: one row per query_id
    * with `tb`/`tt` = the two ranked (id, score) lists. */
  private def dualTopK(docs: DataFrame, queries: Seq[(String, Seq[String])],
                       depth: Int): DataFrame = {
    val spark = docs.sparkSession
    val (terms, d) = termBase(docs, queries)
    // shared single-pass stats+df broadcast side (r16 — see qtermsWithStats)
    val q = qtermsWithStats(spark, queries, terms, combinedStats(d, terms))
    val scored = d
      .crossJoin(broadcast(q))
      .withColumn("score_bm25",
        aggregate(col("qterms"), lit(0.0), (acc, qt) => {
          val tf  = tfOf(qt)
          val df  = qt.getField("df")
          val idf = (col("n") - df + lit(0.5)) / (df + lit(0.5))
          acc + idf * ((tf * lit(K1 + 1.0)) /
            (tf + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / (col("total") / col("n")))))
        }))
      .withColumn("score_tfidf",
        aggregate(col("qterms"), lit(0.0), (acc, qt) => {
          val tf = tfOf(qt)
          val df = qt.getField("df")
          acc + tf * ((col("n") - df + lit(0.5)) / (df + lit(0.5)))
        }))
      .select(col("query_id"), col("doc_id"), col("score_bm25"), col("score_tfidf"))
    val topAll = graft.functions.topk.topK(depth)
    val topPos = graft.functions.topk.topK(depth, minScoreExclusive = 0.0)
    scored.groupBy("query_id").agg(
      topAll(col("doc_id"), col("score_bm25")).as("tb"),
      topPos(col("doc_id"), col("score_tfidf")).as("tt"))
  }

  def rrfFusion(docs: DataFrame, queries: Seq[(String, Seq[String])],
                k: Int = 10, depth: Int = 50, c: Int = 60): DataFrame = {
    val agg = dualTopK(docs, queries, depth)
    // columnar fusion — NOT a full-outer self-join of the agg subtree,
    // which would execute the corpus scoring twice (the duplicated-subtree
    // trap): rank maps from each list, the doc union exploded once
    def ids(c0: Column): Column = transform(c0, s => s.getField("id"))
    def rankMap(c0: Column): Column =
      map_from_arrays(ids(c0), transform(c0, (_, i) => i + 1))
    val fused = agg
      .select(col("query_id"),
        rankMap(col("tb")).as("mb"), rankMap(col("tt")).as("mt"),
        explode(array_union(ids(col("tb")), ids(col("tt")))).as("doc_id"))
      .withColumn("rank_bm25", element_at(col("mb"), col("doc_id")))
      .withColumn("rank_tfidf", element_at(col("mt"), col("doc_id")))
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(c) + col("rank_bm25")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(c) + col("rank_tfidf")), lit(0.0)))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("rrf_score"), asc("doc_id"))
    fused.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank"), col("rrf_score"))
  }

  /** Rank-biased overlap (Webber, Moffat, Zobel 2010) between the BM25 and
    * tfidf rankings, truncated at `k`: `Σ_{d=1..k} w_d · |A_{1..d} ∩
    * B_{1..d}|` with `w_d = (1−p)·p^{d−1}/d` — THE ranking-similarity
    * metric for top-weighted lists (Kendall/Spearman treat depth 1 and
    * depth 50 disagreements alike; RBO geometrically discounts depth,
    * handles non-conjoint lists, and p sets the evaluator's patience).
    * Every retrieval migration runs this table: "how different is the new
    * ranker, where it matters?".
    *
    * Determinism: the weights are computed ONCE here and interpolated
    * into the SQL oracle as literals (the mortonSql discipline — one
    * source, two dialects), prefix intersections are integer counts, and
    * the weighted sum folds in ascending-depth order on both engines —
    * bit-exact. Cost: two |queries|·depth ranked lists (driver-scale),
    * all real work is the rankers themselves. */
  def rboWeights(k: Int, p: Double): Seq[Double] =
    (1 to k).map(d => (1 - p) * math.pow(p, d - 1) / d)

  def rbo(docs: DataFrame, queries: Seq[(String, Seq[String])],
          k: Int = 10, depth: Int = 50, p: Double = 0.9): DataFrame = {
    val w = typedLit(rboWeights(k, p))
    // r16: both rankings come out of the SHARED dual-score corpus pass
    // ([[dualTopK]] — the rrfFusion machinery), not two standalone ranker
    // pipelines: one corpus scan instead of two scoring passes + their
    // stats, and the full-outer query_id join disappears because both
    // lists land in the same aggregated row. The partial top-k lists are
    // ordered (score desc, id asc) — identical membership and order to
    // the window-ranked bm25()/tfidfRank() outputs the oracle mirrors.
    dualTopK(docs, queries, depth)
      .select(col("query_id"),
        transform(col("tb"), s => s.getField("id")).as("aa"),
        transform(col("tt"), s => s.getField("id")).as("bb"))
      .select(col("query_id"),
        aggregate(sequence(lit(1), lit(k)), lit(0.0), (acc, d) =>
          acc + element_at(w, d) *
            size(array_intersect(
              slice(col("aa"), lit(1), d),
              slice(col("bb"), lit(1), d)))
              .cast("double")).as("rbo"))
  }

  /** Exact phrase search over positional postings — the operator BM25's
    * bag-of-words scoring cannot express: "these tokens, adjacent, in this
    * order". Corpus probes ("find the exact boilerplate sentence"),
    * template mining, and quote-level contamination checks all need it.
    *
    * Returns one row per (phrase_id, doc_id) with `n_matches` = the number
    * of START positions (overlapping occurrences count — "w w w" matches
    * "w w" twice), so the output doubles as a phrase-frequency table.
    *
    * Scale design (100 TB): the postings projection filters to the union
    * of the phrases' terms BEFORE anything widens — the `isin` prune rides
    * the scan (for rare phrase terms the surviving postings are a
    * vanishing fraction of the corpus), and each adjacency step is an
    * equi-join on (doc_id, pos+i) over those pruned postings, which AQE
    * broadcasts when the term is rare. In a deployed index the `post`
    * projection is a persisted positional postings table partitioned by
    * term, making each leg a partition-pruned read instead of a corpus
    * scan; the query plan on top is identical. */
  def phraseSearch(docs: DataFrame, phrases: Seq[(String, Seq[String])]): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_._2.nonEmpty),
      "each phrase needs at least one term")
    val allTerms = phrases.flatMap(_._2).distinct
    val post = docs
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "tok")))
      .where(col("tok").isin(allTerms: _*))
    adjacencyCount(post, phrases)
  }

  /** The adjacency-join core shared by the scan path ([[phraseSearch]])
    * and the index path ([[phraseSearchIndexed]]): `post` is any
    * (doc_id, pos, tok) postings relation already restricted to the
    * phrases' terms. */
  private def adjacencyCount(post: DataFrame,
                             phrases: Seq[(String, Seq[String])]): DataFrame = {
    val legs = phrases.map { case (pid, terms) =>
      var cur = post.where(col("tok") === terms.head)
        .select(col("doc_id"), col("pos").as("p0"))
      for (i <- 1 until terms.length) {
        val nxt = post.where(col("tok") === terms(i))
          .select(col("doc_id").as("__d"), col("pos").as("__p"))
        cur = cur.join(nxt, col("__d") === col("doc_id") && col("__p") === col("p0") + i)
          .select(col("doc_id"), col("p0"))
      }
      cur.groupBy("doc_id").agg(count(lit(1)).as("n_matches"))
        .select(lit(pid).as("phrase_id"), col("doc_id"), col("n_matches"))
    }
    legs.reduce(_ unionByName _)
  }

  /** Materialize the positional postings as a PERSISTED index, partitioned
    * by a term-hash bucket — the deployed form of [[phraseSearch]]'s class
    * doc: pay the corpus tokenization once, answer every later phrase
    * query from a partition-pruned read.
    *
    * Bucketed (not by raw term) because a real vocabulary is millions of
    * terms — `nBuckets` hash directories keep the filesystem sane while
    * still pruning reads to |phrase terms| buckets of ~1/nBuckets of the
    * postings each. The bucket function is `pmod(xxhash64(tok), nBuckets)`
    * computed BY THE ENGINE on both the write and query side (a tiny
    * driver-side lookup job per query — never a reimplementation that
    * could drift). */
  def buildPhraseIndex(docs: DataFrame, path: String, nBuckets: Int = 64): Unit =
    docs.select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "tok")))
      .withColumn("bucket", pmod(xxhash64(col("tok")), lit(nBuckets.toLong)).cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** Incremental index maintenance: append a NEW document batch's postings
    * to an existing [[buildPhraseIndex]] directory (partitioned parquet
    * append — new files land inside the same bucket dirs; readers merge
    * them for free). The daily-crawl composition: build once, append per
    * ingest, compact with [[graft.ext.Layout]] when small files accrete.
    * Caller contract: a doc_id appears in at most one appended batch
    * (re-ingesting a document would double its postings — run the
    * [[graft.ext.Versioning.corpusDiff]] added-set first). */
  def appendPhraseIndex(docs: DataFrame, path: String, nBuckets: Int = 64): Unit =
    docs.select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "tok")))
      .withColumn("bucket", pmod(xxhash64(col("tok")), lit(nBuckets.toLong)).cast("int"))
      .write.mode("append").partitionBy("bucket").parquet(path)

  /** EXACTLY-ONCE streaming index maintenance: each micro-batch's postings
    * land under `path/batch=<id>/bucket=<b>` via a FULL overwrite of the
    * batch directory — a replayed batch rewrites identical content instead
    * of double-appending (the plain [[appendPhraseIndex]] would duplicate
    * postings on replay). Readers (`spark.read.parquet(path)`) discover
    * both partition levels and still prune on `bucket`; a crash mid-write
    * leaves a partial batch dir that the post-recovery replay overwrites
    * before the stream commits, so steady-state reads are complete. */
  def absorbPhraseIndexBatch(docs: DataFrame, path: String, batchId: Long,
                             nBuckets: Int = 64): Unit =
    docs.select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "tok")))
      .withColumn("bucket", pmod(xxhash64(col("tok")), lit(nBuckets.toLong)).cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/batch=$batchId")

  /** Phrase search against a [[buildPhraseIndex]] directory: the scan
    * reads ONLY the partitions holding the phrases' terms (PartitionFilters
    * on `bucket` — pinned in RetrievalSpec), then runs the identical
    * adjacency plan. Results are [[phraseSearch]]-identical by
    * construction (same core, same postings restriction). */
  def phraseSearchIndexed(spark: SparkSession, path: String,
                          phrases: Seq[(String, Seq[String])],
                          nBuckets: Int = 64): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_._2.nonEmpty),
      "each phrase needs at least one term")
    import spark.implicits._
    val allTerms = phrases.flatMap(_._2).distinct
    // term → bucket via the engine's own hash (|terms| rows, driver-side)
    val buckets = allTerms.toDF("tok")
      .select(pmod(xxhash64(col("tok")), lit(nBuckets.toLong)).cast("int"))
      .collect().map(_.getInt(0)).distinct.toSeq
    val post = spark.read.parquet(path)
      .where(col("bucket").isin(buckets: _*) && col("tok").isin(allTerms: _*))
      .select("doc_id", "pos", "tok")
    adjacencyCount(post, phrases)
  }

  /** Driver-gate query set: two terms each (commutative-add determinism). */
  val GateQueries: Seq[(String, Seq[String])] = Seq(
    "q1" -> Seq("spark", "join"),
    "q2" -> Seq("fast", "scan"),
    "q3" -> Seq("vector", "window"),
    "q4" -> Seq("the", "slow"))

  /** Gate phrases: an adjacent-repeat (overlap counting), a 2-term, and a
    * 3-term phrase — all from the corpus vocabulary. */
  val GatePhrases: Seq[(String, Seq[String])] = Seq(
    "p1" -> Seq("table", "table"),
    "p2" -> Seq("agg", "join"),
    "p3" -> Seq("fast", "scan", "query"))

  val queries: Map[String, Q] = Map(
    "phrase_search" -> ((s, dir) =>
      phraseSearch(SparkEntry.table(s, dir, "documents"), GatePhrases)),
    // full fidelity through the build → partition-pruned read → adjacency
    // path (fresh temp index per run; localCheckpoint materializes before
    // the index dir is deleted — the snapshot_roundtrip pattern)
    "phrase_search_indexed" -> ((s, dir) => {
      val root = TmpIo.freshDir("phraseidx")
      try {
        buildPhraseIndex(SparkEntry.table(s, dir, "documents"), s"$root/idx")
        phraseSearchIndexed(s, s"$root/idx", GatePhrases).localCheckpoint(true)
      } finally TmpIo.deleteRecursively(root)
    }),
    "bm25_index" -> ((s, dir) => index(SparkEntry.table(s, dir, "documents"))),
    "bm25_topk"  -> ((s, dir) => bm25(SparkEntry.table(s, dir, "documents"), GateQueries)),
    // save-then-query through the persisted statistics index; must score
    // bit-identically to the inline bm25_topk (same oracle)
    "bm25_indexed" -> ((s, dir) => {
      val root = TmpIo.freshDir("bm25idx")
      val docs = SparkEntry.table(s, dir, "documents")
      try {
        saveBm25Index(docs, s"$root/idx")
        bm25Indexed(docs, s, s"$root/idx", GateQueries).localCheckpoint(true)
      } finally TmpIo.deleteRecursively(root)
    }),
    "retrieval_rrf" -> ((s, dir) =>
      rrfFusion(SparkEntry.table(s, dir, "documents"), GateQueries)),
    "retrieval_rbo" -> ((s, dir) =>
      rbo(SparkEntry.table(s, dir, "documents"), GateQueries)),
  )

  /** Shared two-ranker CTE prefix (bq = BM25 top-50 ranks, tq =
    * positive-score tfidf top-50 ranks) — both the rrf and rbo oracles
    * compose on it, so the rankings cannot drift between gates. */
  /** The gate's RBO weights rendered as a DuckDB list literal — generated
    * from [[rboWeights]] itself so the two dialects share one source. */
  // each weight travels as CAST('<shortest-roundtrip-repr>' AS DOUBLE):
  // a BARE decimal literal types as DECIMAL(18) in DuckDB, which both
  // rounds 17-significant-digit weights AND folds the sum in decimal
  // arithmetic — two distinct last-ulp divergences; string→DOUBLE parses
  // with strtod (correctly-rounded round-trip, like the engine side)
  private val rboWeightsSql: String =
    rboWeights(10, 0.9)
      .map(w => s"CAST('${java.lang.Double.toString(w)}' AS DOUBLE)")
      .mkString("[", ", ", "]")

  private val gateRankedListsSql: String =
    """d AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS toks
        |  FROM documents),
        |dd AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM d),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |              CAST(sum(len(toks)) AS DOUBLE) AS total FROM d),
        |q(query_id, t1, t2) AS (VALUES
        |  ('q1', 'spark', 'join'), ('q2', 'fast', 'scan'),
        |  ('q3', 'vector', 'window'), ('q4', 'the', 'slow')),
        |dfs AS (
        |  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM (
        |    SELECT doc_id, unnest(list_distinct(toks)) AS term FROM d)
        |  GROUP BY term),
        |bs AS (
        |  SELECT q.query_id, dd.doc_id,
        |    (((st.n - COALESCE(f1.df, 0.0) + 0.5) / (COALESCE(f1.df, 0.0) + 0.5)) *
        |      ((CAST(len(list_filter(dd.toks, x -> x = q.t1)) AS DOUBLE) * 2.2) /
        |       (CAST(len(list_filter(dd.toks, x -> x = q.t1)) AS DOUBLE) +
        |        1.2 * (0.25 + 0.75 * dd.dl / (st.total / st.n))))) +
        |    (((st.n - COALESCE(f2.df, 0.0) + 0.5) / (COALESCE(f2.df, 0.0) + 0.5)) *
        |      ((CAST(len(list_filter(dd.toks, x -> x = q.t2)) AS DOUBLE) * 2.2) /
        |       (CAST(len(list_filter(dd.toks, x -> x = q.t2)) AS DOUBLE) +
        |        1.2 * (0.25 + 0.75 * dd.dl / (st.total / st.n))))) AS score
        |  FROM dd, st, q
        |  LEFT JOIN dfs f1 ON f1.term = q.t1
        |  LEFT JOIN dfs f2 ON f2.term = q.t2),
        |bq AS (
        |  SELECT query_id, doc_id, rank_bm25 FROM (
        |    SELECT query_id, doc_id, row_number() OVER
        |      (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank_bm25
        |    FROM bs) WHERE rank_bm25 <= 50),
        |ts AS (
        |  SELECT q.query_id, dd.doc_id,
        |    (CAST(len(list_filter(dd.toks, x -> x = q.t1)) AS DOUBLE) *
        |      ((st.n - COALESCE(f1.df, 0.0) + 0.5) / (COALESCE(f1.df, 0.0) + 0.5))) +
        |    (CAST(len(list_filter(dd.toks, x -> x = q.t2)) AS DOUBLE) *
        |      ((st.n - COALESCE(f2.df, 0.0) + 0.5) / (COALESCE(f2.df, 0.0) + 0.5))) AS score
        |  FROM dd, st, q
        |  LEFT JOIN dfs f1 ON f1.term = q.t1
        |  LEFT JOIN dfs f2 ON f2.term = q.t2),
        |tq AS (
        |  SELECT query_id, doc_id, rank_tfidf FROM (
        |    SELECT query_id, doc_id, row_number() OVER
        |      (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank_tfidf
        |    FROM ts WHERE score > 0) WHERE rank_tfidf <= 50)""".stripMargin

  /** One adjacency-join leg per gate phrase, generated from [[GatePhrases]]
    * itself (one source, two dialects — the rboWeightsSql discipline). */
  private def phraseLegSql(pid: String, terms: Seq[String]): String = {
    val joins = terms.zipWithIndex.drop(1).map { case (t, i) =>
      s"JOIN p a$i ON a$i.doc_id = a0.doc_id AND a$i.pos = a0.pos + $i AND a$i.tok = '$t'"
    }.mkString(" ")
    s"SELECT '$pid' AS phrase_id, a0.doc_id, count(*) AS n_matches FROM p a0 $joins " +
      s"WHERE a0.tok = '${terms.head}' GROUP BY a0.doc_id"
  }

  private def phraseOracle: String =
    ("""WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS w
      |  FROM documents),
      |p AS (SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) AS pos FROM t)
      |""".stripMargin +
      GatePhrases.map { case (pid, ts) => phraseLegSql(pid, ts) }
        .mkString("\nUNION ALL\n"))

  val oracleSql: Map[String, String] = Map(
    // the index path must answer identically to the scan path
    "phrase_search_indexed" -> phraseOracle,
    "phrase_search" -> phraseOracle,
    "bm25_index" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term)
        |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
        |FROM tf GROUP BY term""".stripMargin,

    // Mirrors bm25() arithmetic shape exactly: rational idf, per-term
    // saturation quotient, one commutative add of the two term weights.
    "bm25_topk" -> bm25TopkOracle,
    // the persisted-index path scores bit-identically by construction
    "bm25_indexed" -> bm25TopkOracle,
  ) ++ oracleSqlFusion

  private lazy val bm25TopkOracle: String =
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS toks
        |  FROM documents),
        |dd AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM d),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |              CAST(sum(len(toks)) AS DOUBLE) AS total FROM d),
        |q(query_id, t1, t2) AS (VALUES
        |  ('q1', 'spark', 'join'), ('q2', 'fast', 'scan'),
        |  ('q3', 'vector', 'window'), ('q4', 'the', 'slow')),
        |dfs AS (
        |  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM (
        |    SELECT doc_id, unnest(list_distinct(toks)) AS term FROM d)
        |  GROUP BY term),
        |scored AS (
        |  SELECT q.query_id, dd.doc_id,
        |    (((st.n - COALESCE(f1.df, 0.0) + 0.5) / (COALESCE(f1.df, 0.0) + 0.5)) *
        |      ((CAST(len(list_filter(dd.toks, x -> x = q.t1)) AS DOUBLE) * 2.2) /
        |       (CAST(len(list_filter(dd.toks, x -> x = q.t1)) AS DOUBLE) +
        |        1.2 * (0.25 + 0.75 * dd.dl / (st.total / st.n))))) +
        |    (((st.n - COALESCE(f2.df, 0.0) + 0.5) / (COALESCE(f2.df, 0.0) + 0.5)) *
        |      ((CAST(len(list_filter(dd.toks, x -> x = q.t2)) AS DOUBLE) * 2.2) /
        |       (CAST(len(list_filter(dd.toks, x -> x = q.t2)) AS DOUBLE) +
        |        1.2 * (0.25 + 0.75 * dd.dl / (st.total / st.n))))) AS score
        |  FROM dd, st, q
        |  LEFT JOIN dfs f1 ON f1.term = q.t1
        |  LEFT JOIN dfs f2 ON f2.term = q.t2),
        |r AS (
        |  SELECT query_id, doc_id, score,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |  FROM scored)
        |SELECT query_id, doc_id, rank, score FROM r WHERE rank <= 10""".stripMargin

  // lazy: referenced by oracleSql above, which initializes first
  private lazy val oracleSqlFusion: Map[String, String] = Map(
    // both rankers re-derived with the engine's exact arithmetic shapes,
    // fused with fixed-order RRF adds (bm25 contribution + tfidf
    // contribution — integer-input divisions, bit-exact cross-engine)
    "retrieval_rrf" ->
      ("WITH " + gateRankedListsSql + ",\n" +
        """|f AS (
        |  SELECT COALESCE(bq.query_id, tq.query_id) AS query_id,
        |         COALESCE(bq.doc_id, tq.doc_id) AS doc_id,
        |         COALESCE(1.0 / (60 + bq.rank_bm25), 0.0) +
        |         COALESCE(1.0 / (60 + tq.rank_tfidf), 0.0) AS rrf_score
        |  FROM bq FULL OUTER JOIN tq
        |    ON bq.query_id = tq.query_id AND bq.doc_id = tq.doc_id),
        |r AS (
        |  SELECT query_id, doc_id, rrf_score, row_number() OVER
        |    (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rank
        |  FROM f)
        |SELECT query_id, doc_id, rank, rrf_score FROM r WHERE rank <= 10""".stripMargin),
    // same ranked lists, prefix-intersection weighted sum; weights are the
    // SAME Scala-computed literals the engine uses (one source, two
    // dialects), folded in ascending depth order on both sides
    "retrieval_rbo" ->
      ("WITH " + gateRankedListsSql + ",\n" +
        s"""la AS (SELECT query_id, list(doc_id ORDER BY rank_bm25) AS arr FROM bq GROUP BY query_id),
           |lb AS (SELECT query_id, list(doc_id ORDER BY rank_tfidf) AS arr FROM tq GROUP BY query_id),
           |j AS (SELECT COALESCE(la.query_id, lb.query_id) AS query_id,
           |        COALESCE(la.arr, CAST([] AS BIGINT[])) AS aa,
           |        COALESCE(lb.arr, CAST([] AS BIGINT[])) AS bb
           |      FROM la FULL OUTER JOIN lb ON la.query_id = lb.query_id)
           |SELECT query_id,
           |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, 11), d ->
           |    $rboWeightsSql[d] * CAST(len(list_intersect(
           |      list_slice(aa, 1, d), list_slice(bb, 1, d))) AS DOUBLE))),
           |    (acc, x) -> acc + x) AS rbo
           |FROM j""".stripMargin),
  )
}
