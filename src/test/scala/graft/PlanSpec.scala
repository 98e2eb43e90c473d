package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec

/** Physical-plan regression gate for the scale-critical queries.
  *
  * The round-4 verdict found three scale-killers (an all-pairs embedding
  * cartesian, an IVF assignment shuffle, a driver-side collect); rounds 5-6
  * fixed them and the fixes were verified by reading plans by hand. This
  * spec pins those properties structurally so a refactor cannot silently
  * reintroduce a cartesian or an extra shuffle: the sf0.001 plans are shape-
  * identical to the 100 TB ones (strategy choices here are driven by the
  * same statistics machinery, just smaller inputs).
  *
  * Runs on [[ProdSession]] — the production `GraftExtensions` injection
  * path (preCBO batch), NOT `extraOptimizations` — so these pins gate the
  * plans production actually executes (round-7 verdict missing #1). */
class PlanSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = ProdSession.spark

  private def physical(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan

  private def count(p: SparkPlan)(pf: PartialFunction[SparkPlan, Unit]): Int =
    p.collect { case n if pf.isDefinedAt(n) => n }.size

  /** Data-movement exchanges the plan pins care about: HASH/RANGE
    * partitioned shuffles. The `Dedup.spread` exchange (a conditional
    * few-files-input parallelizer, no-op at cluster scale) is excluded — it
    * moves the input once by design, and counting it would make every
    * "zero/N exchanges" pin depend on the test corpus's file count. */
  private def shuffles(p: SparkPlan): Int = count(p) {
    case e: ShuffleExchangeExec if !SpreadExchange.is(e) =>
  }
  private def assertNoCartesian(name: String, p: SparkPlan): Unit = {
    assert(count(p) { case _: joins.CartesianProductExec => } == 0,
      s"$name has a cartesian product:\n$p")
    assert(count(p) { case _: BroadcastNestedLoopJoinExec => } == 0,
      s"$name has a broadcast nested-loop join:\n$p")
  }

  test("dedup_embedding_pairs: no cartesian, ZERO shuffles (first-shared-cell, no distinct)") {
    // r17 (VERDICT r16 items 1-2): the pair distinct's exchange is gone —
    // multi-cell collisions dedup by the first-shared-cell per-row
    // predicate inside the bucket join, so at gate scale the whole plan
    // is broadcast joins with no exchange of the candidate stream
    val p = physical("dedup_embedding_pairs")
    assertNoCartesian("dedup_embedding_pairs", p)
    assert(shuffles(p) == 0, s"expected 0 shuffles, got ${shuffles(p)}:\n$p")
    assert(count(p) { case a: aggregate.BaseAggregateExec
        if a.aggregateExpressions.isEmpty => } == 0,
      s"candidate distinct crept back:\n$p")
  }

  test("minhash/simhash/phash candidate streams: first-shared-band predicate, no distinct exchange") {
    // r17 (VERDICT r16 item 1): the three banded pair joins dedup
    // multi-band collisions with the per-row first-shared-band predicate
    // — no grouping-only aggregate (distinct) may appear anywhere in
    // these plans, so the candidate stream is never exchanged a second
    // time. (The exact-Jaccard/hamming verification is pure projection
    // + filter — these queries have NO aggregates at all.)
    for (name <- Seq("dedup_minhash_lsh", "dedup_simhash", "image_phash_pairs")) {
      val p = physical(name)
      assertNoCartesian(name, p)
      assert(count(p) { case a: aggregate.BaseAggregateExec
          if a.aggregateExpressions.isEmpty => } == 0,
        s"$name: candidate distinct crept back:\n$p")
    }
  }

  test("ann_ivf: narrow cell assignment — the only shuffle is the top-k partial agg") {
    val p = physical("ann_ivf")
    assertNoCartesian("ann_ivf", p)
    assert(shuffles(p) == 1, s"expected 1 shuffle, got ${shuffles(p)}:\n$p")
    // TopKAgg must run partial-then-final: ≤k rows per partition cross the wire
    assert(count(p) { case _: ObjectHashAggregateExec => } == 2,
      s"expected partial+final ObjectHashAggregate:\n$p")
  }

  test("ann_topk: brute-force baseline broadcasts the QUERY side and partial-aggregates") {
    val p = physical("ann_topk")
    // the one BroadcastNestedLoopJoin in the suite is by design: the tiny
    // query set broadcasts against one scan of the vectors; assert the
    // build side really is the broadcast one and top-k is partial-then-final
    val bnl = p.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnl.size == 1)
    val build = bnl.head.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => bnl.head.left
      case _ => bnl.head.right
    }
    assert(count(build) { case _: BroadcastExchangeExec => } +
      (if (build.isInstanceOf[BroadcastExchangeExec]) 1 else 0) >= 1,
      s"query side is not broadcast:\n$p")
    assert(shuffles(p) == 1, s"expected 1 shuffle, got ${shuffles(p)}:\n$p")
    assert(count(p) { case _: ObjectHashAggregateExec => } == 2)
  }

  test("ann_pq: compressed corpus side stays narrow, queries broadcast, partial top-k") {
    val p = physical("ann_pq")
    // like ann_topk, the scoring join is a deliberate broadcast nested loop:
    // the tiny query set (with its m×nCodes distance tables) broadcasts
    // against ONE scan of the code-compressed corpus
    val bnl = p.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnl.size == 1, s"expected the one broadcast ADC join:\n$p")
    val probe = bnl.head.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => bnl.head.right
      case _ => bnl.head.left
    }
    // the corpus side must reach the join unshuffled — encode is scan-time
    assert(probe.collect { case s: ShuffleExchangeExec => s }.isEmpty,
      s"PQ encode must be narrow on the corpus side:\n$p")
    assert(shuffles(p) == 1, s"expected only the top-k agg shuffle:\n$p")
    assert(count(p) { case _: ObjectHashAggregateExec => } == 2,
      s"expected partial+final ObjectHashAggregate:\n$p")
  }

  test("ann_ivf_pq_refined: shortlist broadcasts, corpus fetch stays narrow") {
    val p = physical("ann_ivf_pq_refined")
    assertNoCartesian("ann_ivf_pq_refined", p)
    // three broadcast hash joins: ADC scoring on cell_id, the (tiny)
    // shortlist x query-vector join, and the id-keyed vector fetch. The
    // two joins that touch the CORPUS (cell_id, neighbor_id-fetch) must
    // stream it shuffle-free; the query_id join's streamed side is the
    // shortlist aggregate and legitimately contains its top-k exchange.
    val bhj = p.collect { case j: joins.BroadcastHashJoinExec => j }
    assert(bhj.size == 3, s"expected ADC + shortlist-join + fetch joins:\n$p")
    bhj.filterNot(_.leftKeys.exists(_.toString.contains("query_id"))).foreach { j =>
      val streamed = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.right
        case _ => j.left
      }
      assert(streamed.collect { case s: ShuffleExchangeExec => s }.isEmpty,
        s"corpus side of $j must be narrow:\n$p")
    }
    // exactly the two partial top-k exchanges (shortlist agg + final agg)
    assert(shuffles(p) == 2, s"expected shortlist + rerank top-k shuffles:\n$p")
    assert(count(p) { case _: ObjectHashAggregateExec => } == 4,
      s"expected two partial+final ObjectHashAggregate pairs:\n$p")
  }

  test("ann_ivf_pq: cell-keyed broadcast HASH join, corpus narrow, partial top-k") {
    val p = physical("ann_ivf_pq")
    // the IVFADC upgrade over plain PQ: scoring joins on cell_id, so it must
    // plan as a broadcast hash join — no nested loop anywhere
    assertNoCartesian("ann_ivf_pq", p)
    val bhj = p.collect { case j: joins.BroadcastHashJoinExec => j }
    assert(bhj.size == 1, s"expected the one cell-keyed broadcast join:\n$p")
    val streamed = bhj.head.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => bhj.head.right
      case _ => bhj.head.left
    }
    assert(streamed.collect { case s: ShuffleExchangeExec => s }.isEmpty,
      s"assignment + residual encode must be narrow on the corpus side:\n$p")
    assert(shuffles(p) == 1, s"expected only the top-k agg shuffle:\n$p")
    assert(count(p) { case _: ObjectHashAggregateExec => } == 2,
      s"expected partial+final ObjectHashAggregate:\n$p")
  }

  test("dedup_jaccard_pairs: inverted-index join graph, never all-pairs") {
    val p = physical("dedup_jaccard_pairs")
    assertNoCartesian("dedup_jaccard_pairs", p)
  }

  test("dedup_threshold_report: the pair pass appears ONCE in the plan") {
    // VERDICT r13 item 5: the report's "one pair pass" claim used to ride
    // AQE exchange reuse across a crossJoin of two aggregates over the
    // same jaccardPairs subtree; the round-14 rewrite folds both counts
    // off one exploded pass, so the pair subtree is structurally single —
    // pinned here as: the report adds ZERO file scans over a single
    // jaccardPairs pass (same documents-scan count as the pairs gate)
    val pairsScans = count(physical("dedup_jaccard_pairs")) { case _: FileSourceScanExec => }
    val p = physical("dedup_threshold_report")
    assertNoCartesian("dedup_threshold_report", p)
    assert(count(p) { case _: FileSourceScanExec => } == pairsScans,
      s"threshold report re-scans the pair pass (pairs gate scans $pairsScans):\n$p")
  }

  test("dedup_minhash_lsh: banded bucket join, never all-pairs") {
    val p = physical("dedup_minhash_lsh")
    assertNoCartesian("dedup_minhash_lsh", p)
  }

  test("dedup_embedding_incremental: frozen-centroid cell join, never all-pairs") {
    val p = physical("dedup_embedding_incremental")
    assertNoCartesian("dedup_embedding_incremental", p)
  }

  test("hygiene narrow ops: repetition/PII/sampling are shuffle-free scan-time plans") {
    for (name <- Seq("repetition_stats", "pii_redact", "stratified_sample")) {
      val p = physical(name)
      assert(shuffles(p) == 0, s"$name must be a narrow per-document plan:\n$p")
      assert(count(p) { case _: BroadcastExchangeExec => } == 0)
    }
  }

  test("contamination: benchmark side broadcast, one shuffle (the hit count)") {
    val p = physical("contamination")
    assertNoCartesian("contamination", p)
    val bhj = p.collect { case j: joins.BroadcastHashJoinExec => j }
    assert(bhj.size == 1,
      s"benchmark n-gram join must broadcast the benchmark side:\n$p")
    // the TB-scale corpus side must reach the join with no shuffle (the
    // benchmark side may dedup-shuffle inside its broadcast subtree — MBs)
    val streamed = bhj.head.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => bhj.head.right
      case _ => bhj.head.left
    }
    assert(streamed.collect { case s: ShuffleExchangeExec => s }.isEmpty,
      s"corpus side must not shuffle before the benchmark join:\n$p")
    // above the join: exactly the per-doc count agg shuffle
    assert(shuffles(p) - shuffles(bhj.head) == 1,
      s"only the per-doc count agg may shuffle above the join:\n$p")
  }

  test("decontaminate_spans (set path): ONE corpus scan, zero shuffles, zero joins") {
    // the default InSet regime: the whole span removal is a scan-time map
    val p = physical("decontaminate_spans")
    assertNoCartesian("decontaminate_spans", p)
    assert(shuffles(p) == 0, s"the set path must not shuffle the corpus:\n$p")
    assert(count(p) { case _: joins.BroadcastHashJoinExec => } == 0 &&
      count(p) { case _: joins.SortMergeJoinExec => } == 0,
      s"the set path must not join:\n$p")
    assert(count(p) { case _: FileSourceScanExec => } == 1,
      s"expected exactly one corpus scan:\n$p")
  }

  test("decontaminate_spans (join path): bench grams + start lists broadcast, text never shuffles") {
    import org.apache.spark.sql.functions.col
    val docs = SparkEntry.table(spark, sfDir, "documents")
    val p = graft.ext.Hygiene.decontaminateSpans(
        docs.where(col("doc_id") % 50 =!= 0), docs.where(col("doc_id") % 50 === 0),
        k = 4, viaSet = false)
      .queryExecution.executedPlan
    assertNoCartesian("decontaminate_spans(join)", p)
    // two broadcast joins: benchmark grams onto the posexplode, start lists
    // back onto the corpus scan — the TB-sized text column must reach the
    // final projection with no ShuffleExchange anywhere on its path
    val bhj = p.collect { case j: joins.BroadcastHashJoinExec => j }
    assert(bhj.size == 2, s"expected bench-gram + start-list broadcast joins:\n$p")
    val outer = bhj.maxBy(_.output.map(_.name).count(_ == "starts"))
    val streamed = outer.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => outer.right
      case _ => outer.left
    }
    assert(streamed.collect { case s: ShuffleExchangeExec => s }.isEmpty,
      s"the text-carrying corpus side must not shuffle:\n$p")
  }

  test("ngram_novelty: ONE gram-keyed exchange, no df join-back of the index") {
    val p = physical("ngram_novelty")
    assertNoCartesian("ngram_novelty", p)
    // shuffles: gram-keyed df agg, holder-keyed rollup, and the final
    // doc_id join of two narrow sides — the full inverted index crosses
    // exactly ONE exchange (a join-back formulation would cross it twice
    // and re-execute the corpus explode)
    assert(shuffles(p) <= 4, s"novelty must not re-shuffle the inverted index:\n$p")
    val generates = count(p) { case _: GenerateExec => }
    assert(generates == 1,
      s"the corpus must explode ONCE (df join-back would re-explode):\n$p")
  }

  test("lm_score: lexicon broadcast, corpus side narrow to the per-doc agg") {
    val p = physical("lm_score")
    assertNoCartesian("lm_score", p)
    // the crawl side must reach the lexicon join unshuffled (the lexicon +
    // denominator broadcasts may shuffle inside their own MB-sized subtrees)
    val bhj = p.collect { case j: joins.BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"lexicon join must broadcast the lexicon:\n$p")
    val streamed = bhj.head.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => bhj.head.right
      case _ => bhj.head.left
    }
    assert(streamed.collect { case s: ShuffleExchangeExec => s }.isEmpty,
      s"corpus side must not shuffle before the lexicon join:\n$p")
  }

  test("dsir_weights: both lexicons broadcast, corpus narrow to the per-doc agg") {
    val p = physical("dsir_weights")
    assertNoCartesian("dsir_weights", p)
    val bhj = p.collect { case j: joins.BroadcastHashJoinExec => j }
    assert(bhj.size >= 2, s"both lexicon joins must broadcast:\n$p")
    // the corpus must reach the lexicon joins unshuffled: below the per-doc
    // agg's exchange, the only shuffles allowed are INSIDE the MB-sized
    // broadcast build subtrees (the lexicon groupBys)
    def corpusShuffles(n: org.apache.spark.sql.execution.SparkPlan): Int = n match {
      case _: BroadcastExchangeExec => 0
      case s: ShuffleExchangeExec => 1 + s.children.map(corpusShuffles).sum
      case other => other.children.map(corpusShuffles).sum
    }
    val streamed = bhj.head.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => bhj.head.right
      case _ => bhj.head.left
    }
    assert(corpusShuffles(streamed) == 0,
      s"corpus side must not shuffle before the lexicon joins:\n$p")
  }

  test("lm_score_bigram: both reference lexicons broadcast, corpus narrow to the per-doc agg") {
    val p = physical("lm_score_bigram")
    assertNoCartesian("lm_score_bigram", p)
    val bhj = p.collect { case j: joins.BroadcastHashJoinExec => j }
    assert(bhj.size >= 2, s"bigram and unigram lexicon joins must broadcast:\n$p")
    // the crawl side must reach the lexicon joins unshuffled — only the
    // broadcast build subtrees (the reference lexicon groupBys) may shuffle
    def corpusShuffles(n: org.apache.spark.sql.execution.SparkPlan): Int = n match {
      case _: BroadcastExchangeExec => 0
      case s: ShuffleExchangeExec => 1 + s.children.map(corpusShuffles).sum
      case other => other.children.map(corpusShuffles).sum
    }
    val streamed = bhj.head.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => bhj.head.right
      case _ => bhj.head.left
    }
    assert(corpusShuffles(streamed) == 0,
      s"corpus side must not shuffle before the lexicon joins:\n$p")
  }

  test("curate_full: the composed pipeline stays cartesian-free end to end") {
    val p = physical("curate_full")
    assertNoCartesian("curate_full", p)
  }

  test("curate_full: gated stage boundary materialized once, never recomputed") {
    // The gated corpus (repetition gate + quality gate + decontamination)
    // feeds BOTH the near-dup pair branch (executed eagerly inside the
    // connected-components loop) and the final survivor anti-join; without
    // the localCheckpoint at the stage boundary the gate math re-ran from
    // parquet in the final job (round-8 verdict "What's wrong" #1). Pin the
    // fix structurally: the final plan reads NO parquet — its document
    // input is exactly one scan of the materialized gated RDD (the pair
    // branch consumed the same RDD during construction).
    val p = physical("curate_full")
    assert(count(p) { case _: FileSourceScanExec => } == 0,
      s"curate_full final job must read only materialized stage boundaries:\n$p")
    val gatedScans = p.collect { case r: RDDScanExec if r.output.exists(_.name == "text") => r }
    assert(gatedScans.size == 1,
      s"expected exactly one scan of the gated checkpoint, got ${gatedScans.size}:\n$p")
  }

  test("dedup_subdoc: chunk-keyed shuffles only, never all-pairs") {
    val p = physical("dedup_subdoc")
    assertNoCartesian("dedup_subdoc", p)
  }

  test("c4_line_filter: narrow shuffle-free scan-time line rules") {
    val p = physical("c4_line_filter")
    assert(shuffles(p) == 0, s"line filtering must be a narrow scan-time plan:\n$p")
  }

  test("chunk_documents: narrow shuffle-free per-document explode") {
    val p = physical("chunk_documents")
    assert(shuffles(p) == 0, s"chunking must be a narrow scan-time plan:\n$p")
  }

  test("shuffle_order: one shuffle (the per-shard rank window), no global sort") {
    val p = physical("shuffle_order")
    assert(shuffles(p) == 1, s"ordering must shuffle once, by shard:\n$p")
    assert(count(p) { case _: SortExec => } == 1,
      s"expected exactly the within-shard rank sort:\n$p")
  }

  test("pack_sequences: one shuffle (the per-shard window), no global sort") {
    val p = physical("pack_sequences")
    assert(shuffles(p) == 1, s"packing must shuffle once, by shard:\n$p")
    assert(count(p) { case _: SortExec => } == 1,
      s"expected exactly the within-shard window sort:\n$p")
  }

  test("pack_greedy: one shard shuffle feeding the per-shard sequential fill") {
    val p = physical("pack_greedy")
    assert(shuffles(p) == 1, s"expected only the shard-key exchange:\n$p")
  }

  test("dedup_substring: gram-hash-keyed join graph, never all-pairs") {
    val p = physical("dedup_substring")
    assertNoCartesian("dedup_substring", p)
  }

  test("dedup_semantic: cell-blocked pair graph + anti-join, never all-pairs") {
    val p = physical("dedup_semantic")
    assertNoCartesian("dedup_semantic", p)
  }

  test("quality_score: featurize + weight fold is a shuffle-free scan-time plan") {
    val p = physical("quality_score")
    assert(shuffles(p) == 0, s"scoring must be a narrow per-document plan:\n$p")
    assert(count(p) { case _: BroadcastExchangeExec => } == 0,
      s"frozen weights are a literal array, not a join:\n$p")
  }

  test("temperature_mix: after the strata-count collect, a scan-time filter") {
    // the n^alpha rate computation collects one row per stratum at plan-
    // construction time (bounded driver state); the returned plan itself
    // must be exactly the stratifiedSample hash filter — narrow, no joins
    val p = physical("temperature_mix")
    assert(shuffles(p) == 0, s"mixing must be a narrow scan-time filter:\n$p")
    assert(count(p) { case _: BroadcastExchangeExec => } == 0)
  }

  test("epoch_mix: after the token-count collect, a narrow scan-time explode") {
    // the per-stratum epoch schedule collects one row per stratum at
    // plan-construction time; the returned plan is a filter + bounded
    // sequence explode — narrow, no joins, the corpus never shuffles
    val p = physical("epoch_mix")
    assert(shuffles(p) == 0, s"epoch mixing must be a narrow scan-time plan:\n$p")
    assert(count(p) { case _: BroadcastExchangeExec => } == 0)
  }

  test("cluster_balance: narrow assignment, ONE shuffle (the per-cell cap window)") {
    val p = physical("cluster_balance")
    assertNoCartesian("cluster_balance", p)
    // cell assignment is a per-row expression over the centroid literal —
    // the only exchange is the hash partition on cell_id for the rank window
    assert(shuffles(p) == 1, s"expected exactly the cell window shuffle:\n$p")
    assert(count(p) { case _: BroadcastExchangeExec => } == 0,
      s"centroids ride as a literal, never a join:\n$p")
  }

  test("leakage_split: inverted-index cross pairs, never all-pairs; leaky set broadcast") {
    val p = physical("leakage_split")
    assertNoCartesian("leakage_split", p)
    assert(count(p) { case _: BroadcastExchangeExec => } >= 1,
      s"the leaky-train anti-join must broadcast the small side:\n$p")
  }

  test("perplexity_partition: broadcast-lexicon scoring + scan-time CASE bucketing") {
    // cutoffs collapse to two doubles at plan-construction time; the
    // returned plan must be the lm_score shape (lexicon broadcast, one
    // per-doc agg shuffle) with bucketing as a literal-compare projection
    val p = physical("perplexity_partition")
    assertNoCartesian("perplexity_partition", p)
    assert(count(p) { case _: joins.SortMergeJoinExec => } == 0,
      s"the crawl side must never shuffle for the lexicon join:\n$p")
  }

  test("length_histogram: one partial-then-final aggregation, integer buckets") {
    val p = physical("length_histogram")
    assert(shuffles(p) == 1, s"histogram is one (source, bucket) agg:\n$p")
    assert(count(p) { case _: BroadcastExchangeExec => } == 0)
  }

  test("corpus_overlap: distinct-reduced sides, no cartesian") {
    val p = physical("corpus_overlap")
    assertNoCartesian("corpus_overlap", p)
  }

  test("embed_tfidf: lexicon broadcast back, bounded shuffles, vector math in-row") {
    val p = physical("embed_tfidf")
    assertNoCartesian("embed_tfidf", p)
    assert(count(p) { case _: BroadcastExchangeExec => } >= 1,
      s"the df lexicon must broadcast, not shuffle-join the corpus:\n$p")
    // tf agg (appearing once per consumer branch — Catalyst prunes each
    // copy to its own columns rather than reusing one fatter exchange),
    // the vocabulary-sized lexicon agg, and the per-doc grouping — nothing
    // beyond the four aggregation exchanges may shuffle
    assert(shuffles(p) <= 4, s"expected ≤4 aggregation shuffles:\n$p")
  }

  test("dedup_bloom: corpus never shuffles — broadcast joins only, narrow probe") {
    val p = physical("dedup_bloom")
    assertNoCartesian("dedup_bloom", p)
    // both joins (present-set semi, still-new anti) take the broadcast
    // route; any SortMergeJoin would mean the corpus got shuffled
    assert(count(p) { case _: joins.SortMergeJoinExec => } == 0,
      s"dedup_bloom shuffled a join side:\n$p")
    val bhj = p.collect { case j: joins.BroadcastHashJoinExec => j }
    assert(bhj.size == 2, s"expected 2 broadcast joins, got ${bhj.size}:\n$p")
    // the only shuffle is the tiny maybe-hash distinct (reused by AQE for
    // the present-set distinct), never a corpus- or batch-sized exchange
    assert(shuffles(p) <= 2, s"expected <=2 (tiny) shuffles:\n$p")
  }

  test("dedup_incremental: frozen-index probe stays an inverted-index join graph") {
    val p = physical("dedup_incremental")
    assertNoCartesian("dedup_incremental", p)
  }

  test("ann_lsh: bucket signatures are narrow — no cartesian, queries broadcast") {
    val p = physical("ann_lsh")
    assertNoCartesian("ann_lsh", p)
    // the bucket join must be a broadcast hash join (query side broadcast),
    // so the data side reaches it with no shuffle before the join
    val bhj = p.collect { case j: joins.BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"bucket join should be a broadcast hash join:\n$p")
    val streamed = bhj.head.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => bhj.head.right
      case _ => bhj.head.left
    }
    // the data side must never KEY-shuffle before the bucket join (the
    // spread of a few-files input is not a key exchange and no-ops at
    // scale — the shared shuffles()/SpreadExchange convention)
    assert(streamed.collect {
      case s: ShuffleExchangeExec if !SpreadExchange.is(s) => s
    }.isEmpty,
      s"data side must not key-shuffle before the bucket join:\n$p")
    // r16 (VERDICT r15 item 1): multi-table collisions dedup via the
    // first-shared-table per-row predicate, NOT a distinct() — the whole
    // plan carries exactly ONE shuffle (the final top-k groupBy) and
    // exactly one partial/final aggregate pair; a distinct would add a
    // second exchange plus two more aggregates over the candidate stream
    assert(shuffles(p) == 1,
      s"ann_lsh must shuffle once (top-k groupBy only):\n$p")
    val aggs = count(p) { case _: aggregate.BaseAggregateExec => }
    assert(aggs == 2,
      s"ann_lsh must plan one partial/final top-k pair, saw $aggs:\n$p")
  }

  test("jmes_field: pruned scan (only event_id + props) with the extraction codegen'd") {
    val df = SparkEntry.queries("jmes_field")(spark, sfDir)
    val p = df.queryExecution.executedPlan
    val scans = p.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1)
    assert(scans.head.requiredSchema.fieldNames.toSet == Set("event_id", "props"),
      s"scan is not column-pruned: ${scans.head.requiredSchema}")
    // the lowered json extraction must sit INSIDE a whole-stage-codegen span
    val inCodegen = p.collect { case w: WholeStageCodegenExec => w }
      .exists(_.toString.contains("json_path"))
    assert(inCodegen, s"json extraction not inside WholeStageCodegen:\n$p")
  }

  /** One shared scan in the whole plan, none inline in any Filter — the
    * single-parse contract (counting convention shared with the probes via
    * [[graft.compile.FusedPlanStats]]). */
  private def assertSingleSharedScan(name: String): Unit = {
    val opt = SparkEntry.queries(name)(spark, sfDir).queryExecution.optimizedPlan
    assert(graft.compile.FusedPlanStats.totalFused(opt) == 1,
      s"$name: expected one shared scan:\n$opt")
    assert(graft.compile.FusedPlanStats.filterFused(opt) == 0,
      s"$name: filter still evaluates its own scan:\n$opt")
  }

  test("jmes_pipeline: filter gate and both outputs share ONE scan below the Filter") {
    assertSingleSharedScan("jmes_pipeline")
  }

  test("jmes_wide: constructed doc + gate + extraction share ONE scan below the Filter") {
    // the cross-Project fusion case: the document is BUILT by the plan
    // (concat of table columns), the gate was pushed below the doc-defining
    // Project by Catalyst, and extraction sits above — one fused scan and
    // one doc construction per row must survive to the optimized plan
    assertSingleSharedScan("jmes_wide")
  }

  test("wide controls: the gate parses ABOVE the round-robin spread, never below (r19 pin)") {
    // VERDICT r18 #7: with the r18 spread in place, predicate pushdown once
    // inlined the doc alias into the gate Filter and pushed it BELOW the
    // exchange — the gate parsed ALL rows on the pre-spread single task and
    // the extraction re-parsed survivors (the round-7 double-parse class).
    // The FusedGate barrier keeps the doc-defining Project above the
    // exchange; this pin turns a future re-push into a red test instead of
    // a silent bench regression.
    for (n <- Seq("jmes_wide", "jmes_wide_interp", "variant_wide")) {
      val p = SparkEntry.queries(n)(spark, sfDir).queryExecution.executedPlan
      val rr = p.collect {
        case e: ShuffleExchangeExec if SpreadExchange.is(e) => e
      }
      assert(rr.nonEmpty, s"$n: expected the spread exchange:\n$p")
      rr.foreach { e =>
        assert(e.child.collect { case f: FilterExec => f }.isEmpty,
          s"$n: gate Filter was pushed below the spread exchange:\n$p")
        val childStr = e.child.toString
        assert(!childStr.contains("json_fused") && !childStr.contains("jmes_")
            && !childStr.contains("parse_json"),
          s"$n: document parse sits below the spread exchange:\n$p")
      }
    }
  }

  test("optimizer reaches a true fixpoint on every fused shape (no pushdown ping-pong)") {
    // Round-7 regression: FuseProjectScans + PushPredicateThroughNonJoin
    // ping-ponged to the 100-iteration cap in the production config and
    // shipped a double-parse plan. A converged plan is one the optimizer
    // maps to itself; a capped batch leaves a plan that keeps changing.
    for (n <- Seq("jmes_pipeline", "jmes_multicol", "jmes_wide",
                  "jmes_filter_compare", "jmes_field", "cli_format_data")) {
      val opt = SparkEntry.queries(n)(spark, sfDir).queryExecution.optimizedPlan
      val reOpt = spark.sessionState.optimizer.execute(opt)
      assert(reOpt.canonicalized == opt.canonicalized,
        s"$n: optimizer is not a fixpoint — re-optimizing changes the plan:\n" +
          s"$opt\n>>> became:\n$reOpt")
    }
  }

  test("dedup_soft: one content-hash window shuffle, no joins") {
    val p = physical("dedup_soft")
    assert(shuffles(p) == 1, s"expected only the hash-partition exchange:\n$p")
    assert(count(p) { case _: window.WindowExec => } == 1,
      s"expected the count window:\n$p")
    assert(count(p) { case _: joins.SortMergeJoinExec => } +
      count(p) { case _: joins.BroadcastHashJoinExec => } == 0,
      s"soft dedup must not join:\n$p")
  }

  test("corpus_stats: partial-then-final hash aggregation, one strata shuffle") {
    val p = physical("corpus_stats")
    assert(shuffles(p) == 1, s"expected 1 shuffle, got ${shuffles(p)}:\n$p")
    assert(count(p) { case _: aggregate.HashAggregateExec => } == 2,
      s"expected partial+final HashAggregate:\n$p")
  }

  test("q1_agg: partial-then-final hash aggregation, one shuffle") {
    val p = physical("q1_agg")
    assert(shuffles(p) == 1, s"expected 1 shuffle, got ${shuffles(p)}:\n$p")
    assert(count(p) { case _: aggregate.HashAggregateExec => } == 2,
      s"expected partial+final HashAggregate:\n$p")
  }

  test("q3_join: dimension filters pushed + broadcast, no cartesian, partial agg") {
    val p = physical("q3_join")
    assert(count(p) { case _: joins.CartesianProductExec => } == 0)
    assert(count(p) { case _: joins.BroadcastHashJoinExec => } >= 1,
      s"expected the filtered customer side broadcast:\n$p")
    // revenue agg is partial-then-final
    assert(count(p) { case _: aggregate.HashAggregateExec => } >= 2, s"$p")
  }

  test("bm25_topk: corpus never shuffles before scoring; rank-limit pushed below the exchange") {
    val p = physical("bm25_topk")
    assert(count(p) { case _: joins.CartesianProductExec => } == 0)
    // the only shuffle the SCORED corpus crosses is the top-k exchange
    // (stats/query-set aggregations shuffle single-row/|terms|-bounded
    // rows on the broadcast subtree): exactly one exchange carries the
    // corpus scan (the one reading doc_id — the combined-stats scan reads
    // text only, r16), and it must have a WindowGroupLimit BELOW it —
    // each task ships ≤ k rows per query
    val corpusExchanges = p.collect {
      case e: ShuffleExchangeExec if e.collectFirst {
        case s: FileSourceScanExec if s.output.exists(_.name == "doc_id") => ()
      }.nonEmpty => e
    }
    assert(corpusExchanges.size == 1,
      s"expected exactly one shuffle above the scored corpus (the top-k):\n$p")
    assert(corpusExchanges.head.collectFirst {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }.nonEmpty, s"rank limit not pushed below the top-k exchange:\n$p")
    // the corpus scan streams into the scoring join with no shuffle before it
    val outerBnlj = p.collect {
      case j: BroadcastNestedLoopJoinExec
        if j.left.collectFirst { case _: BroadcastExchangeExec => () }.isEmpty => j
    }
    outerBnlj.headOption.foreach { j =>
      assert(j.left.collectFirst { case _: ShuffleExchangeExec => () }.isEmpty,
        s"corpus side shuffles before scoring:\n$p")
    }
  }

  test("bm25_index: row-local tf generator + ONE per-term aggregation (r19)") {
    // the old (doc_id, term) pre-aggregation shuffled corpus-sized token
    // pairs even though every group lives inside one source row; per-doc
    // tf is now emitted row-locally by the native term_tf_entries
    // generator, leaving one |vocab|-bounded partial+final aggregation
    val p = physical("bm25_index")
    assert(shuffles(p) == 1, s"expected ONE shuffle (per-term agg), got ${shuffles(p)}:\n$p")
    assert(count(p) { case _: aggregate.HashAggregateExec => } == 2,
      s"expected 1× partial+final HashAggregate:\n$p")
    assert(p.toString.contains("term_tf_entries"),
      s"expected the native per-doc tf generator:\n$p")
  }

  test("retrieval_rrf: ONE scoring pass over the corpus, both legs partial top-k") {
    val p = physical("retrieval_rrf")
    assert(count(p) { case _: joins.CartesianProductExec => } == 0)
    // the one-pass design: the corpus is scanned for the shared scored
    // projection plus ONE combined stats aggregation (n + total + every
    // term's df in a single row, r16) — NOT once per ranker and not one
    // scan per statistic (the two-job form paid 6 scans; the r15 form 3)
    assert(count(p) { case _: FileSourceScanExec => } == 2,
      s"expected 2 corpus scans (scoring + combined stats):\n$p")
    // both rankings reduce through ONE partial-then-final TopKAgg
    // aggregate pair (≤ depth rows per query per system cross the wire);
    // the second pair is the tiny query-set collect_list (qterms)
    assert(count(p) { case _: ObjectHashAggregateExec => } == 4,
      s"expected the top-k pair + the qterms collect_list pair:\n$p")
    // the only window (final fused ranking) runs over the exploded top-k
    // lists — input bounded by |queries|·2·depth, never corpus-sized
    val wins = p.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(wins.size == 1, s"expected exactly one (tiny) fusion window:\n$p")
    assert(wins.head.collectFirst { case _: ObjectHashAggregateExec => () }.nonEmpty,
      s"fusion window must sit above the aggregated top-k lists:\n$p")
  }

  test("retrieval_rbo: shares the dual-score pass — 2 scans, no ranker self-join") {
    // r16: rbo rides the same dualTopK aggregation as rrf instead of two
    // standalone ranker pipelines (which paid 2 scoring scans + stats and
    // a full-outer query_id join of the two rankings)
    val p = physical("retrieval_rbo")
    assert(count(p) { case _: joins.CartesianProductExec => } == 0)
    assert(count(p) { case _: FileSourceScanExec => } == 2,
      s"expected 2 corpus scans (scoring + combined stats):\n$p")
    // both ranked lists land in ONE aggregated row — the full-outer
    // join of the two-pipeline form must never come back
    assert(count(p) { case j: joins.SortMergeJoinExec => } == 0,
      s"rbo must not join the two rankings:\n$p")
    assert(count(p) { case _: ObjectHashAggregateExec => } == 4,
      s"expected the dual top-k pair + the qterms collect_list pair:\n$p")
  }

  test("ann_sq8: query side broadcast, corpus narrow, partial top-k") {
    val p = physical("ann_sq8")
    val bnl = p.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnl.size == 1, s"expected the designed query-set broadcast:\n$p")
    assert(shuffles(p) == 1, s"expected 1 shuffle (top-k partial agg), got ${shuffles(p)}:\n$p")
    assert(count(p) { case _: ObjectHashAggregateExec => } == 2)
  }

  test("dedup_normalized: narrow normalization, one map-side-combined shuffle") {
    val p = physical("dedup_normalized")
    assert(shuffles(p) == 1, s"expected 1 shuffle, got ${shuffles(p)}:\n$p")
    assert(count(p) { case _: aggregate.HashAggregateExec => } == 2,
      s"expected partial+final HashAggregate:\n$p")
  }

  test("vocab_growth: term shuffle + bucket shuffle; the window input is bucket-bounded") {
    val p = physical("vocab_growth")
    assert(count(p) { case _: joins.CartesianProductExec => } == 0)
    assert(shuffles(p) <= 3, s"expected ≤3 shuffles, got ${shuffles(p)}:\n$p")
  }

  test("sliding_agg: scan-time window replication, one agg shuffle") {
    val p = physical("sliding_agg")
    assert(shuffles(p) == 1, s"expected 1 shuffle, got ${shuffles(p)}:\n$p")
    assert(count(p) { case _: aggregate.HashAggregateExec => } == 2,
      s"expected partial+final HashAggregate:\n$p")
  }
  test("objective-prep and fingerprint gates: narrow scan-time plans, zero shuffles") {
    for (name <- Seq("fim_transform", "span_corruption", "winnow_fingerprints")) {
      val p = physical(name)
      assert(shuffles(p) == 0, s"$name must be a pure scan-time transform:\n$p")
      assert(count(p) { case _: FileSourceScanExec => } == 1,
        s"$name must read the corpus exactly once:\n$p")
    }
    // checksums: one map-side-combined aggregation exchange
    val c = physical("corpus_checksums")
    assert(shuffles(c) == 1, s"checksums = one bucket-agg exchange:\n$c")
    // outliers: cutoff is collected eagerly; the returned plan is a bare
    // scan + filter — nothing corpus-sized moves
    val o = physical("embedding_outliers")
    assert(shuffles(o) == 0, s"outlier filter must be scan-time:\n$o")
  }
  test("groupTopK: agg and window strategies agree; plans differ as designed") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions.{col, round}
    val events = SparkEntry.table(spark, sfDir, "events")
      .select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
    val viaAgg = ext.TopK.groupTopK(events, Seq("event_type"),
      col("event_id"), col("cents"), 3)
    val viaWin = ext.TopK.groupTopKWindow(events, Seq("event_type"),
      col("event_id"), col("cents"), 3)
    val a = viaAgg.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3).toLong)).sorted.toSeq
    val w = viaWin.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3).toLong)).sorted.toSeq
    assert(a == w, "the two strategies must return identical rows")
    // agg route: partial-then-final ObjectHashAggregate, NO window
    val pa = viaAgg.queryExecution.executedPlan
    assert(count(pa) { case _: ObjectHashAggregateExec => } == 2, s"$pa")
    assert(pa.collect { case x: WindowExec => x }.isEmpty, s"$pa")
    // window route: a WindowGroupLimit bounds each task below the exchange
    val pw = viaWin.queryExecution.executedPlan
    assert(pw.toString.contains("WindowGroupLimit"),
      s"rank-limit pushdown must bound pre-shuffle rows:\n$pw")
  }

  test("glove_cooc: narrow pair explosion, ONE map-side-combined pair shuffle") {
    val p = physical("glove_cooc")
    assert(shuffles(p) == 1, s"expected only the pair-key exchange:\n$p")
    assert(count(p) { case _: aggregate.HashAggregateExec => } == 2,
      s"expected partial+final HashAggregate:\n$p")
    assert(count(p) { case _: GenerateExec => } == 1,
      s"expected the single in-row pair explosion:\n$p")
    assertNoCartesian("glove_cooc", p)
  }

  test("cms_estimate: bounded counter aggregation, probe side broadcast") {
    val p = physical("cms_estimate")
    assertNoCartesian("cms_estimate", p)
    // counters: partial+final over (row, bucket); exact probe counts:
    // partial+final over term; estimates: partial+final min over term —
    // every aggregation map-side combines before its exchange
    assert(count(p) { case _: aggregate.HashAggregateExec => } >= 4,
      s"expected map-side-combined aggregations throughout:\n$p")
    assert(count(p) { case _: exchange.BroadcastExchangeExec => } >= 1,
      s"expected the probe set broadcast against the counters:\n$p")
  }

  test("dpo_pairs: ONE group shuffle, struct-extrema aggregate, no window/join") {
    val p = physical("dpo_pairs")
    assert(shuffles(p) == 1, s"expected only the group exchange:\n$p")
    assert(count(p) { case _: window.WindowExec => } == 0,
      s"pair mining must not sort-window the corpus:\n$p")
    assert(count(p) { case _: joins.SortMergeJoinExec => } +
      count(p) { case _: joins.BroadcastHashJoinExec => } == 0,
      s"pair mining must not join:\n$p")
    // struct extrema plan as SortAggregate (structs aren't hash-aggregable)
    // — what matters is the PARTIAL stage below the exchange: each map task
    // ships two structs per group
    assert(count(p) { case _: aggregate.SortAggregateExec => } == 2,
      s"expected partial+final struct-extrema aggregation:\n$p")
  }

  test("budget_select: one stratum exchange shared by the running-sum window") {
    val p = physical("budget_select")
    assert(shuffles(p) == 1, s"expected only the stratum exchange:\n$p")
    assert(count(p) { case _: window.WindowExec => } == 1,
      s"expected the single running-sum window:\n$p")
  }

  test("blocklist_filter: pure scan-time plan — zero shuffles, zero joins") {
    val p = physical("blocklist_filter")
    assert(shuffles(p) == 0, s"the policy audit must ride the scan:\n$p")
    assert(count(p) { case _: joins.SortMergeJoinExec => } +
      count(p) { case _: joins.BroadcastHashJoinExec => } == 0, s"$p")
  }

  test("merge_upsert: ONE struct-extrema shuffle — no join, no window") {
    val p = physical("merge_upsert")
    assert(shuffles(p) == 1, s"expected only the winner-per-key exchange:\n$p")
    assert(count(p) { case _: joins.SortMergeJoinExec => } +
      count(p) { case _: joins.BroadcastHashJoinExec => } == 0,
      s"latest-wins must not join:\n$p")
    assert(count(p) { case _: window.WindowExec => } == 0,
      s"latest-wins must not window:\n$p")
  }

  test("scan-time operators stay shuffle-free: jl_project, kfold_assign, temporal_split, winsorize") {
    for (name <- Seq("jl_project", "kfold_assign", "temporal_split", "winsorize")) {
      val p = physical(name)
      assert(shuffles(p) == 0, s"$name must ride the scan:\n$p")
    }
  }

  test("quantileBounds prefix-sum stage: window partitioned, no single-task funnel") {
    import org.apache.spark.sql.functions.{col, lit}
    val vals = SparkEntry.table(spark, sfDir, "documents")
      .select(lit("n_chars").as("sig"), col("n_chars").as("v"))
    val p = graft.ext.Quality.rangeCumCounts(vals).queryExecution.executedPlan
    assert(count(p) { case e: ShuffleExchangeExec
        if e.outputPartitioning.numPartitions == 1 => } == 0,
      s"distinct-value histogram funnels through one partition:\n$p")
    val wins = p.collect { case w: window.WindowExec => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"the running-count window must be partitioned (parallel), not global:\n$p")
  }

  test("item_cooc: no cartesian (the nBaskets scalar broadcasts); ONE basket exchange reused") {
    val p = physical("item_cooc")
    // the single-row nBaskets side rides a broadcast nested-loop join BY
    // DESIGN (a scalar against the pair table); no CartesianProduct ever
    assert(count(p) { case _: joins.CartesianProductExec => } == 0,
      s"item_cooc has a cartesian product:\n$p")
    // total/marginals/pairs all branch off the one (basket)-keyed
    // aggregation: its exchange must appear once and be REUSED, not
    // re-executed per consumer
    val reused = count(p) { case _: exchange.ReusedExchangeExec => }
    assert(reused >= 2, s"basket exchange must be shared across consumers:\n$p")
    assert(count(p) { case _: FileSourceScanExec => } == 1,
      s"expected exactly one lineitem scan:\n$p")
  }

  test("item_cooc: one collect fires exactly the broadcast + result jobs") {
    // the r15 job-count pin (VERDICT r14 item 2): with AQE off the whole
    // query is ONE result job plus the broadcast builds (the nBaskets
    // scalar and the two AQE-independent marginal-side broadcasts) — the
    // local floor is job-round-bound, not compute-bound (CoocProbe r15:
    // basket agg ~0.85 s + pair agg ~0.8 s + tail; BASELINE.md floor
    // note). More jobs means a hidden count/collect or a cache-build
    // crept into the hot path.
    SparkEntry.queries("item_cooc")(spark, sfDir).collect() // warm caches
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries("item_cooc")(spark, sfDir).collect()
      // deterministic async-bus drain via the package escape hatch — a
      // fixed sleep both under-counts on a loaded host and adds fixed
      // latency to every run (ADVICE r15 #3)
      org.apache.spark.sql.graft.bridge.waitListenerBus(spark.sparkContext)
      assert(jobs.get() <= 4,
        s"item_cooc must be broadcast builds + ONE result job, saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("bitext_mine: three jobs (src collect, fwd agg, final), ONE matrix eval in the plan") {
    // the r16 floor pin (VERDICT r15 item 2, the item_cooc discipline):
    // the fused exact miner is src-collect + ONE forward multi-top-k
    // aggregation + ONE backward scan joined against the driver-built
    // forward table — 3 jobs, no hidden count/cache pass
    SparkEntry.queries("bitext_mine")(spark, sfDir).collect() // warm caches
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries("bitext_mine")(spark, sfDir).collect()
      org.apache.spark.sql.graft.bridge.waitListenerBus(spark.sparkContext)
      // 3 semantic jobs (src collect, fwd agg, final collect) + up to 2
      // AQE query-stage jobs from the final broadcast-join execution
      assert(jobs.get() <= 5,
        s"bitext_mine must be collect + fwd agg + final (+≤2 AQE), saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
    // the final plan evaluates the |src|-cosine matrix exactly ONCE: the
    // r15 form let constraint-inferred isnotnull filters inline a second
    // cosine_sims_all + arg_top_k_lit pass into the scan (measured 3.4×
    // on the final job; killed by the ConfScope constraint-propagation
    // scope in Similarity.bitextMine)
    val p = SparkEntry.queries("bitext_mine")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("cosine_sims_all".r.findAllIn(p).size == 1,
      s"final plan must carry exactly one matrix-cosine eval:\n${p.take(2000)}")
    assert("arg_top_k_lit".r.findAllIn(p).size == 1,
      s"final plan must carry exactly one backward top-k eval:\n${p.take(2000)}")
  }

  test("kn_bigram_lm: marginals aggregate the COLLAPSED pair table, one corpus scan") {
    val p = physical("kn_bigram_lm")
    // the single-row N1+(·,·) scalar broadcasts via nested loop BY DESIGN
    // (the item_cooc nBaskets pattern); never a CartesianProduct
    assert(count(p) { case _: joins.CartesianProductExec => } == 0,
      s"kn_bigram_lm has a cartesian product:\n$p")
    // the pair table is checkpointed (one corpus pass at build); all four
    // consumers read the materialized statistic — ZERO corpus re-scans
    assert(count(p) { case _: FileSourceScanExec => } == 0,
      s"marginals must derive from the checkpointed pair table:\n$p")
  }

  test("token_f1: pure scan-time plan — zero shuffles, zero joins") {
    val p = physical("token_f1")
    assert(shuffles(p) == 0, s"token_f1 must ride the scan:\n$p")
    assertNoCartesian("token_f1", p)
  }

  test("bleu_corpus: exploded gram counts clip via a co-partitioned join") {
    val p = physical("bleu_corpus")
    // the clip join co-partitions on the (pair, n, gram) aggregation keys;
    // never a cartesian, and the corpus is checkpointed (zero re-scans)
    assert(count(p) { case _: joins.CartesianProductExec => } == 0,
      s"bleu_corpus has a cartesian product:\n$p")
    assert(count(p) { case _: FileSourceScanExec => } == 0,
      s"all legs must read the checkpointed token table:\n$p")
    // the final single-row assembly rides broadcast nested loops BY
    // DESIGN (1×1 rows); the clip join itself must be an EQUI-join on the
    // exploded count keys (broadcast at test scale, SMJ at corpus scale)
    assert(count(p) { case _: joins.SortMergeJoinExec => } +
      count(p) { case _: joins.ShuffledHashJoinExec => } +
      count(p) { case _: joins.BroadcastHashJoinExec => } >= 1,
      s"the clip join must be a keyed equi-join:\n$p")
  }

  test("ols_trend / ab_ztest: one partial-agged exchange, zero joins") {
    for (name <- Seq("ols_trend", "ab_ztest")) {
      val p = physical(name)
      assertNoCartesian(name, p)
      assert(shuffles(p) == 1, s"$name: expected 1 shuffle:\n$p")
      assert(count(p) { case _: joins.BaseJoinExec => } == 0,
        s"$name must not join:\n$p")
    }
  }

  test("bt_pairs: user-window exchange + pair aggregation, nothing else") {
    val p = physical("bt_pairs")
    assertNoCartesian("bt_pairs", p)
    assert(shuffles(p) == 2, s"expected user + pair exchanges only:\n$p")
    assert(count(p) { case _: FileSourceScanExec => } == 1,
      s"one events scan:\n$p")
  }

  test("gini_sources: corpus collapses to K counts before any window") {
    val p = physical("gini_sources")
    // the rank window and final agg run over group-cardinality rows; the
    // corpus itself is touched exactly once
    assert(count(p) { case _: FileSourceScanExec => } == 1,
      s"one documents scan:\n$p")
    assert(count(p) { case _: joins.CartesianProductExec => } == 0,
      s"gini_sources has a cartesian product:\n$p")
  }

  test("source_overlap/source_novelty: one eager corpus pass, local result") {
    // the round-12 pattern-table shape: the single corpus pass (gram
    // collect_set -> pattern counts) runs EAGERLY inside the operator and
    // both statistics fold on the driver under the pattern bound — the
    // returned plan must reference no corpus scan, no shuffle, no join
    for (name <- Seq("source_overlap", "source_novelty")) {
      val p = physical(name)
      assert(count(p) { case _: FileSourceScanExec => } == 0,
        s"$name must not replan a corpus scan:\n$p")
      assert(shuffles(p) == 0, s"$name result must be local:\n$p")
      assert(count(p) { case _: joins.BaseJoinExec => } == 0,
        s"$name must not join:\n$p")
    }
  }

  test("quality_ensemble: decile map is scan-time — one scan, no exchange") {
    // boundaries were computed eagerly (the windowed small path); the
    // returned plan is the corpus scan + broadcast-literal decile compares
    val p = physical("quality_ensemble")
    assert(count(p) { case _: FileSourceScanExec => } == 1,
      s"one documents scan:\n$p")
    assert(shuffles(p) == 0,
      s"the decile lookup must not exchange:\n$p")
  }

  test("chrf_eval/chrf_pp: row-local native gram stats — one scan, zero exchanges") {
    // the round-13 rewrite's whole point: candidate and reference live in
    // the same row, so the metric must never explode grams into an
    // exchange (the old shape shuffled ~len·maxN rows per doc per side)
    for (name <- Seq("chrf_eval", "chrf_pp")) {
      val p = physical(name)
      assert(count(p) { case _: FileSourceScanExec => } == 1,
        s"$name must be one documents scan:\n$p")
      assert(shuffles(p) == 0, s"$name must not exchange:\n$p")
    }
  }

  test("native text expressions: winnow/boundaries ride ONE scan, zero corpus exchanges") {
    // the r14 native-expression sweep's plan contract: the per-document
    // pass is a single codegen'd Generate over the scan — any regression
    // back to HOF chains or an added exchange shows up here
    for (name <- Seq("winnow_fingerprints", "semantic_boundaries")) {
      val p = physical(name)
      assert(count(p) { case _: FileSourceScanExec => } == 1,
        s"$name must be one documents scan:\n$p")
      assert(shuffles(p) == 0, s"$name must not exchange:\n$p")
    }
    // glove_cooc keeps exactly its one pair-count aggregation exchange
    val g = physical("glove_cooc")
    assert(count(g) { case _: FileSourceScanExec => } == 1)
    assert(shuffles(g) == 1, s"glove_cooc should have only the count agg exchange:\n$g")
  }

  test("bm25_topk: corpus stats + df fold into aggregations of ONE scan shape") {
    // TermCounts base: no more distinct-explode df pass over the corpus —
    // the plan's scans are the scoring pass + the stats/df aggregation
    // subtrees over the same native vector (ReuseExchange-deduped or
    // trivially cheap); what must NEVER return is a per-term token filter
    val p = physical("bm25_topk")
    assert(count(p) { case _: joins.CartesianProductExec => } == 0)
    assert(p.toString.contains("term_counts"),
      s"bm25 must score off the native term vector:\n${p.toString.take(2000)}")
  }

  test("mrl_recall: ONE fused corpus scan, queries broadcast, never a cartesian") {
    val p = physical("mrl_recall")
    assert(count(p) { case _: joins.CartesianProductExec => } == 0,
      s"mrl_recall has a cartesian product:\n$p")
    // the round-14 fusion (VERDICT r13 item 3): all legs' cosines ride ONE
    // corpus scan — exactly 2 file scans total (corpus + the bounded
    // broadcast query side), down from 4 sequential leg scans
    assert(count(p) { case _: FileSourceScanExec => } == 2,
      s"mrl_recall must scan the corpus once (plus the query side):\n$p")
    assert(count(p) { case _: joins.BroadcastHashJoinExec |
        _: joins.BroadcastNestedLoopJoinExec => } == 1,
      s"expected the single broadcast query join:\n$p")
  }

  test("quality_ensemble: construction fires exactly one eager job") {
    // the round-13 job-count pin (VERDICT r12 item 4): the eager side is
    // ONE job — the AQE-off boundary query (all signals' histograms in a
    // single explode, the 3 bounded exchanges inside one job). Anything
    // more means AQE re-split the query or a hidden count/collect crept in.
    SparkEntry.queries("quality_ensemble")(spark, sfDir) // warm table cache
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries("quality_ensemble")(spark, sfDir)
      // deterministic async-bus drain via the package escape hatch
      // (ADVICE r15 #3 — replaces a fixed 1500 ms sleep)
      org.apache.spark.sql.graft.bridge.waitListenerBus(spark.sparkContext)
      assert(jobs.get() == 1,
        s"construction must fire exactly the one boundary job, saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("heavy_hitters production mode: sketch pass only, no recount scan") {
    import org.apache.spark.sql.functions.col
    val terms = ext.Freq.trigrams(SparkEntry.table(spark, sfDir, "documents"))
    val p = ext.Freq.heavyHitters(terms, m = 64, audit = false)
      .queryExecution.executedPlan
    // the one corpus pass happened eagerly inside the sketch aggregation;
    // the returned candidate table must not plan a recount scan or any
    // join back against the corpus
    assert(count(p) { case _: FileSourceScanExec => } == 0,
      s"production shape must not rescan the corpus:\n$p")
    assert(count(p) { case _: joins.BaseJoinExec => } == 0,
      s"production shape must not join the corpus back:\n$p")
  }

  test("approx_quantiles production mode: mergeable sketch, no exact pass") {
    import org.apache.spark.sql.functions.col
    val p = ext.Freq.approxQuantiles(
      SparkEntry.table(spark, sfDir, "events"), col("event_type"),
      col("value"), Seq(0.5, 0.9), audit = false)
      .queryExecution.executedPlan
    assert(count(p) { case _: joins.BaseJoinExec => } == 0,
      s"audit=false must not join the corpus back:\n$p")
    assert(shuffles(p) == 1, s"one sketch-merge exchange:\n$p")
    assert(count(p) { case _: FileSourceScanExec => } == 1,
      s"one events scan:\n$p")
  }
}
