package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import graft.SparkEntry

/** Model-based quality filtering — the CLASSIFIER stage of LLM data
  * pipelines (the GPT-3 WebText-vs-crawl logistic regression, CCNet /
  * RedPajama's fastText quality filters): logistic regression over hashed
  * bag-of-words features, trained and scored entirely as DataFrame plans.
  *
  * Where [[Hygiene]]'s gates are hand-written heuristics (repetition,
  * stopword ratios) and [[TextAnalysis.lmScore]] is a generative signal,
  * this is the discriminative third leg: label a reference-vs-crawl split,
  * fit weights, score the whole corpus with one narrow pass.
  *
  * Scale design (100 TB):
  *  - featurization is narrow per-document compute — tokenize, hash each
  *    word into `dim` buckets (the hashing trick), distinct+sort. Nothing
  *    shuffles to build features.
  *  - training is full-batch gradient descent: per iteration ONE job
  *    computes `sigmoid(w·x) − y` per row (narrow, weights broadcast as a
  *    literal array) and one `groupBy(featureId)` of at most `dim+1` groups
  *    aggregates the gradient — driver state is `dim+1` doubles per
  *    iteration (the [[Similarity.trainCentroids]] bounded-collect
  *    posture). Corpus rows never leave the executors.
  *  - scoring is a pure scan-time map — composable under any downstream
  *    filter, and the linear fold runs in ASCENDING feature order so the
  *    double sum is bit-reproducible across engines and partitionings
  *    (the [[TextAnalysis.lmScore]] exact-arithmetic precedent).
  *
  * The word hash is a char-polynomial fold (`(acc·31 + codepoint) mod
  * 1000003`, then `mod dim`) rather than xxhash64, so the ENTIRE
  * featurize→score path is exactly SQL-mirrorable (DuckDB's `list_reduce`
  * computes the identical integer fold — no fixture needed; QualitySpec
  * pins the fold value cross-engine). Collisions are the hashing trick's
  * usual regularizer, not a correctness concern. */
object Quality {
  private type Q = (SparkSession, String) => DataFrame

  private[ext] val HashMod = 1000003L

  /** Sorted distinct hashed-word feature ids of `text` (binary presence
    * features). Sorting canonicalizes the weight-fold order for bit-exact
    * scoring. Empty tokens (double spaces) are dropped on both the Spark
    * and oracle sides. */
  def featurize(text: Column, dim: Int): Column =
    array_sort(array_distinct(transform(
      filter(split(text, " "), w => length(w) > 0),
      wd => pmod(aggregate(split(wd, ""), lit(7L),
        (acc, c) => (acc * 31 + ascii(c)) % HashMod), lit(dim.toLong))
        .cast("int"))))

  /** Linear score + sigmoid over hashed features with frozen `weights`.
    * Adds `quality_logit` (bit-reproducible: ascending-order double fold)
    * and `quality_prob` (sigmoid — last-ulp engine-dependent, for ranking
    * and thresholds, not for exact cross-engine comparison). */
  def scoreWith(df: DataFrame, weights: Array[Double], bias: Double = 0.0,
                textCol: Column = col("text")): DataFrame = {
    val wLit = array(weights.map(lit).toSeq: _*)
    df.withColumn("__f", featurize(textCol, weights.length))
      .withColumn("quality_logit",
        aggregate(col("__f"), lit(bias), (acc, i) => acc + element_at(wLit, i + 1)))
      .withColumn("quality_prob",
        lit(1.0) / (lit(1.0) + exp(-col("quality_logit"))))
      .drop("__f")
  }

  /** Keep documents the classifier accepts: `sigmoid(w·x) ≥ minProb`. */
  def filterByQuality(df: DataFrame, weights: Array[Double], bias: Double = 0.0,
                      minProb: Double = 0.5,
                      textCol: Column = col("text")): DataFrame =
    scoreWith(df, weights, bias, textCol).where(col("quality_prob") >= minProb)
      .drop("quality_logit", "quality_prob")

  /** Full-batch logistic-regression training with heavy-ball momentum.
    * Returns `dim+1` doubles (index `dim` is the bias). One narrow job +
    * one ≤`dim+1`-group aggregation per iteration; `l2` is ridge
    * shrinkage; `momentum` is essential, not cosmetic — bag-of-words
    * presence features are heavily correlated, and measured on the
    * LM-bootstrap task (QualitySpec corpus) plain GD needs ~2000
    * iterations (= 2000 Spark jobs) for the accuracy momentum reaches in
    * 20. Momentum state is one more `dim+1` driver-side array.
    *
    * Gradient-descent float summation is partial-aggregation-order
    * dependent, so trained weights are reproducible only to ~1e-10 across
    * runs — training is therefore spec-gated against an in-JVM reference
    * (QualitySpec) like [[Similarity.trainCentroids]], while the DRIVER
    * gate freezes weights and exercises the deterministic scoring path. */
  def train(df: DataFrame, textCol: Column, labelCol: Column, dim: Int = 256,
            iters: Int = 30, lr: Double = 1.0, l2: Double = 0.0,
            momentum: Double = 0.9): Array[Double] = {
    val data = df.select(featurize(textCol, dim).as("f"),
      labelCol.cast("double").as("y")).persist()
    val n = data.count().toDouble
    require(n > 0, "training set is empty")
    val w = Array.fill(dim + 1)(0.0)
    val v = Array.fill(dim + 1)(0.0)
    for (_ <- 0 until iters) {
      val wLit = array(w.init.map(lit).toSeq: _*)
      val z = aggregate(col("f"), lit(w.last),
        (acc, i) => acc + element_at(wLit, i + 1))
      // residual materialized BEFORE the explode so Generate replicates a
      // computed value instead of re-evaluating the fold per feature row
      val grad = data
        .select(col("f"), (lit(1.0) / (lit(1.0) + exp(-z)) - col("y")).as("r"))
        .select(explode(concat(col("f"), array(lit(dim)))).as("i"), col("r"))
        .groupBy("i").agg(sum("r").as("g"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      for (i <- 0 to dim) {
        // standard ridge logistic regression leaves the intercept
        // (index dim) unregularized — shrinking it biases the base rate
        val reg = if (i == dim) 0.0 else l2 * w(i)
        v(i) = momentum * v(i) + grad.getOrElse(i, 0.0) / n + reg
        w(i) -= lr * v(i)
      }
    }
    data.unpersist()
    w
  }

  /** Bootstrap training without human labels — the CCNet regime: score the
    * crawl against a clean `reference` with the unigram LM, call the top
    * `1−q` quantile positives and the bottom `q` negatives (the ambiguous
    * middle is discarded), and fit the classifier to THAT. The classifier
    * then generalizes the LM signal through lexical features and can be
    * shipped as a frozen weight vector with no reference corpus attached. */
  def trainOnHeuristic(docs: DataFrame, reference: DataFrame, dim: Int = 256,
                       iters: Int = 30, lr: Double = 1.0,
                       q: Double = 0.3): Array[Double] = {
    val scored = TextAnalysis.lmScore(docs, reference)
      .select(col("doc_id"), col("mean_prob"))
    val Array(lo, hi) = scored.stat.approxQuantile("mean_prob",
      Array(q, 1.0 - q), 0.001)
    val labeled = docs.join(scored, "doc_id")
      .where(col("mean_prob") <= lo || col("mean_prob") >= hi)
      .withColumn("__y", (col("mean_prob") >= hi).cast("int"))
    train(labeled, col("text"), col("__y"), dim, iters, lr)
  }

  /** DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169 — "Data
    * Selection for Language Models via Importance Resampling"): score every
    * document by how much more likely its words are under a TARGET
    * distribution (the curated domain to upsample) than under the RAW crawl
    * distribution. The published estimator is a hashed-n-gram bag
    * likelihood ratio; this is its deterministic arithmetic-mean unigram
    * variant — numerator and denominator are the add-½-smoothed mean word
    * probabilities of [[TextAnalysis.lmScore]] (exact integer sums, one
    * division each), so the weight is three correctly-rounded IEEE
    * divisions and bit-identical across engines (the paper's sum of logs
    * needs `ln`, whose last ulp is libm-dependent — the lmScore rationale).
    *
    * Plan shape at 100 TB: BOTH lexicons are reference-vocabulary-sized
    * (MBs) and broadcast; the corpus is tokenized once, joined narrowly to
    * both, and aggregated once per document — a single corpus-sized
    * shuffle, same as scoring against one reference. */
  def importanceWeights(docs: DataFrame, target: DataFrame,
                        raw: DataFrame): DataFrame = {
    def lex(ref: DataFrame): DataFrame =
      ref.select(explode(split(col("text"), " ")).as("w"))
        .where(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("cnt"))
    // two scalar denominators collected at build time (bounded driver
    // state, the lmScore / trainCentroids posture)
    def denom(l: DataFrame): Long = l.agg(
      (lit(2) * coalesce(sum("cnt"), lit(0L)) + count(lit(1)) + lit(1)).as("d2"))
      .head().getLong(0)
    val lexT = lex(target)
    val lexR = lex(raw)
    val d2T = denom(lexT)
    val d2R = denom(lexR)
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .join(broadcast(lexT.withColumnRenamed("cnt", "cnt_t")), Seq("w"), "left")
      .join(broadcast(lexR.withColumnRenamed("cnt", "cnt_r")), Seq("w"), "left")
      .withColumn("cnt_t", coalesce(col("cnt_t"), lit(0L)))
      .withColumn("cnt_r", coalesce(col("cnt_r"), lit(0L)))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        (sum(lit(2) * col("cnt_t") + 1).cast("double") /
          (lit(d2T) * count(lit(1))).cast("double")).as("mean_prob_target"),
        (sum(lit(2) * col("cnt_r") + 1).cast("double") /
          (lit(d2R) * count(lit(1))).cast("double")).as("mean_prob_raw"))
      .withColumn("weight", col("mean_prob_target") / col("mean_prob_raw"))
  }

  /** The resampling step as deterministic rank selection: the `k` documents
    * with the highest importance weight (doc_id tiebreak). A distributed
    * partial top-k (`TakeOrderedAndProject` — per-partition heaps, never a
    * global sort). The paper's Gumbel-noised sampling adds diversity at the
    * cost of `ln`-determinism; seeded jitter can be layered on the weight
    * column by callers who want it. */
  def importanceResample(docs: DataFrame, target: DataFrame, raw: DataFrame,
                         k: Int): DataFrame =
    importanceWeights(docs, target, raw)
      .orderBy(desc("weight"), asc("doc_id"))
      .limit(k)

  /** Distribution-drift report between a reference corpus slice and a
    * candidate slice — the monitoring table every recurring ingest runs
    * before accepting a new crawl/snapshot into the training mix ("did
    * the length/score/feature distribution move?"). Equal-width integer
    * buckets are derived from the REFERENCE's min/max; candidate values
    * outside the reference range clamp into the edge buckets (that mass
    * showing up at the edges IS the drift signal). Emits one row per
    * bucket with raw counts and Laplace-smoothed (+1) shares, so no
    * share is ever zero and downstream PSI/KL terms are well-defined.
    *
    * Determinism: bucket assignment is pure integer arithmetic (`div` on
    * BIGINT), counts are integers, and each share is ONE IEEE division of
    * two integers — bit-exact cross-engine. The `ln`-carrying PSI total
    * lives in [[psiTotal]] (spec-gated): `ln` is libm-dependent at the
    * last ulp, the established posture for keeping it out of driver-hash
    * columns. Cost at 100 TB: one 2-value aggregate over the reference +
    * one `nBuckets`-group partial-agg groupBy per side — scan-bound.
    * Driver state: the (min, max) pair, nothing else. */
  def driftReport(ref: DataFrame, cur: DataFrame, value: Column,
                  nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2, "need at least two buckets")
    val spark = ref.sparkSession
    import spark.implicits._
    val r = ref.select(value.cast("long").as("v"))
    val c = cur.select(value.cast("long").as("v"))
    val bounds = r.agg(min(col("v")), max(col("v"))).head()
    require(!bounds.isNullAt(0), "driftReport: reference slice is empty")
    val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
    val width = math.max(1L, (mx - mn + nBuckets) / nBuckets) // ceil((mx-mn+1)/n)
    def counts(df: DataFrame, name: String) = df
      .select(least(greatest(expr(s"(v - $mn) div ${width}L"), lit(0L)),
        lit(nBuckets - 1L)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as(name))
    val buckets = (0 until nBuckets).map(_.toLong).toDF("bucket")
    val rn = counts(r, "ref_n"); val cn = counts(c, "cur_n")
    val rTot = r.count(); val cTot = c.count()
    buckets.join(rn, Seq("bucket"), "left").join(cn, Seq("bucket"), "left")
      .na.fill(0L, Seq("ref_n", "cur_n"))
      .select(col("bucket"),
        (lit(mn) + col("bucket") * width).as("lo"),
        (lit(mn) + (col("bucket") + 1L) * width).as("hi"),
        col("ref_n"), col("cur_n"),
        ((col("ref_n") + 1L).cast("double") / lit((rTot + nBuckets).toDouble)).as("ref_frac"),
        ((col("cur_n") + 1L).cast("double") / lit((cTot + nBuckets).toDouble)).as("cur_frac"))
  }

  /** EQUI-DEPTH drift report — [[driftReport]] with quantile (not
    * equal-width) buckets: boundaries put ~1/nBuckets of the REFERENCE in
    * each bucket, so a long-tailed feature (where equal-width drops
    * nearly everything into one bucket) still yields an informative
    * histogram. Boundary b (b = 1..nBuckets−1) is the smallest reference
    * value whose running count reaches `ceil(b·n/nBuckets)` — an explicit
    * integer rank rule (no engine quantile function, whose interpolation
    * conventions differ). Bucket of v = #boundaries ≤ v — pure integer
    * compares; shares Laplace-smoothed as in [[driftReport]]. */
  /** Equi-depth boundaries by the explicit integer rank rule (boundary b
    * = smallest value whose running count reaches ceil(b·n/k)). Shared by
    * [[driftReportQuantile]] and [[qualityEnsemble]].
    *
    * Scale posture: the distinct-value histogram NEVER funnels through one
    * task or the driver. Distinct counts are range-partitioned by value;
    * the global running count is a two-phase prefix sum — a per-range
    * running window (partitioned by range id, parallel) plus per-range
    * totals (one long per partition) collected and turned into broadcast
    * offsets. The k−1 boundary values come back through ONE aggregate row
    * (`min(v) where cum ≥ rank_b` per boundary); driver state is the
    * partition totals (numShufflePartitions longs) + k−1 longs. */
  /** Stage 1 of the two-phase prefix sum, MULTI-SIGNAL: per-(signal,
    * value) distinct counts, range-partitioned by (signal, value), with
    * the PER-RANGE running count (window partitioned by (signal, range
    * id) — parallel, never a single task). Several signals share ONE
    * histogram pass ([[qualityEnsemble]] computes all its boundaries from
    * a single corpus scan). Exposed for the PlanSpec single-task-window
    * pin. */
  private[graft] def rangeCumCounts(vals: DataFrame): DataFrame =
    rangeCumFromCounts(vals.groupBy("sig", "v").agg(count(lit(1)).as("n")))

  /** The same prefix-sum stage over ALREADY-AGGREGATED (sig, v, n) counts
    * — the entry point for maintained histogram state
    * ([[absorbQuantileBatch]]), where per-value counts accumulate across
    * batches and re-counting raw rows is impossible. */
  private[graft] def rangeCumFromCounts(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nParts = counts.sparkSession.sessionState.conf.numShufflePartitions
    // range partitioning assigns ascending (sig, value) ranges to
    // ascending partition ids, so a per-(sig, partition) window +
    // cross-partition offsets reconstructs each signal's exact global
    // running count
    val w = Window.partitionBy("sig", "pid").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    counts
      .repartitionByRange(nParts, col("sig"), col("v"))
      .withColumn("pid", spark_partition_id())
      .withColumn("pcum", sum(col("n")).over(w))
  }

  /** Equi-depth boundaries for SEVERAL signals in one histogram pass:
    * `vals` is (sig, v); returns sig → its k−1 boundaries. Driver state:
    * per-(sig, partition) totals + the boundary row. */
  /** AQE-off per-query scope, via the shared dead-session-sweeping
    * [[ConfScope]] memo (ADVICE r14 #4). */
  private def aqeOffSession(base: SparkSession): SparkSession =
    ConfScope.session(base, Seq("spark.sql.adaptive.enabled" -> "false"))

  private def quantileBoundsMulti(vals: DataFrame, nBuckets: Int)
      : Map[String, Seq[Long]] =
    boundsFromCounts(vals.groupBy("sig", "v").agg(count(lit(1)).as("n")),
      nBuckets)

  private[graft] def quantileBoundsFromCounts(counts: DataFrame,
                                              nBuckets: Int): Map[String, Seq[Long]] =
    boundsFromCounts(counts, nBuckets)

  /** Distinct-(signal, value) bound under which the histogram runs as
    * ONE windowed query: integer quality signals (lengths, counts,
    * scores) have bounded value domains, so the aggregated histogram is
    * usually tiny even when the corpus is not. The small path shuffles
    * the histogram once by sig, runs a per-sig running-count window, and
    * reads every boundary out of one aggregate row — a single query
    * (measured 11 job rounds → ~5 on the ensemble gate) instead of the
    * sample + range-exchange + window + offset-collect chain. The bound
    * is enforced IN-PLAN (`raise_error` when any sig's histogram
    * overflows a window task) so no separate count pass runs; tripping
    * it falls back to the two-phase prefix sum, which is unchanged. The
    * failure path costs one aborted window task over the oversized
    * partition (external sort, spill-bounded — no OOM) plus the fallback
    * re-aggregation: paid only in the huge-distinct-histogram regime the
    * prefix sum exists for. Test hook: `graft.quantile.smallPathBound`
    * system property overrides the bound so specs can force the trip. */
  private def maxDriverHistogram: Int =
    sys.props.get("graft.quantile.smallPathBound").map(_.toInt)
      .getOrElse(1 << 17)
  private val HistogramGuardMsg = "quantile histogram exceeds small-path bound"

  private def boundsFromCounts(counts: DataFrame,
                               nBuckets: Int): Map[String, Seq[Long]] = {
    import org.apache.spark.sql.expressions.Window
    val wcum = Window.partitionBy("sig").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wsig = Window.partitionBy("sig")
    val aggs = (1 until nBuckets).map { b =>
      // the same integer rank rule as the distributed path: boundary b =
      // smallest v whose running count reaches ceil(b·total/k)
      min(when(col("cum") >=
          ceil(lit(b).cast("double") * col("total") / nBuckets).cast("long"),
        col("v"))).as(s"b$b")
    }
    def isGuardTrip(e: Throwable): Boolean =
      e != null && (Option(e.getMessage).exists(_.contains(HistogramGuardMsg))
        || isGuardTrip(e.getCause))
    val small: Option[Array[org.apache.spark.sql.Row]] =
      try {
        val fullAggs = aggs :+ max(col("__guard")).as("__g")
        val q = counts
          .withColumn("cum", sum(col("n")).over(wcum))
          .withColumn("total", sum(col("n")).over(wsig))
          // in-plan guard: the per-sig window is single-task, so refuse
          // histograms that don't belong in one task (the max(__g) agg
          // reference keeps column pruning from dropping the guard)
          .withColumn("__guard",
            when(count(lit(1)).over(wsig) > maxDriverHistogram,
              raise_error(lit(HistogramGuardMsg))).otherwise(lit(0)))
          .groupBy("sig")
          .agg(fullAggs.head, fullAggs.tail: _*)
        // AQE splits this bounded-size 3-exchange query into one JOB per
        // stage; with the histogram bound in-plan there is nothing for
        // AQE to re-plan, so run it as a single job (measured: removes
        // 2-3 job-submission rounds from every quantile-bounds consumer).
        // The AQE-off override is scoped to a CLONED session (same
        // SparkContext, catalog and cache; independent SQLConf) — a
        // session-wide set/restore would silently plan any concurrent
        // query with AQE off, and racing restores could leave it off
        // permanently (ADVICE r13 #1)
        Some(bridge.ofRows(aqeOffSession(counts.sparkSession), q).collect())
      } catch {
        case e: Exception if isGuardTrip(e) => None
      }
    small match {
      case None => boundsFromCum(rangeCumFromCounts(counts), nBuckets)
      case Some(rows) =>
        require(rows.nonEmpty, "quantileBounds: value slice is empty")
        require(!rows.exists(_.isNullAt(0)),
          "quantileBounds: NULL signal/slice key — coalesce the slice " +
            "column to a label before bucketing (decileBySlice does this)")
        rows.map { r =>
          require(!r.isNullAt(1), "quantileBounds: value slice is empty")
          r.getString(0) -> (1 until nBuckets).map(b => r.getLong(b))
        }.toMap
    }
  }

  /** Run `f` over the cum-stage frame extended with the exact GLOBAL
    * running count (`cum`): persists the per-range stage, collects the
    * per-(sig, partition) totals (the only driver state), broadcasts the
    * offsets, and unpersists afterwards. The shared core of every
    * rank-statistic consumer (quantile boundaries, [[aucExact]]). */
  /** Stand-in for a NULL signal id in the broadcast offset map: Catalyst
    * map literals cannot hold a null key and `concat_ws` silently DROPS a
    * null argument, so both the driver-side key and the plan-side lookup
    * coalesce NULL to this sentinel (a control character no real group
    * value contains) — a NULL slice spanning several range partitions
    * gets its true offset, not a silent 0. */
  private val NullSig = "\u0000<null>"

  private def withGlobalCum[T](cumStage: DataFrame)(
      f: (DataFrame, Map[String, Long]) => T): T = {
    val pcum = cumStage
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val partTotals = pcum.groupBy("sig", "pid").agg(max(col("pcum")).as("t"))
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
      val offsets: Map[String, Long] = partTotals.keys.map { case (sig, pid) =>
        s"${Option(sig).getOrElse(NullSig)}:$pid" -> partTotals.view
          .filterKeys(k => k._1 == sig && k._2 < pid).values.sum
      }.toMap
      // per-signal totals fall out of the partition totals for free — no
      // caller needs a separate count() pass over the input
      val totals = partTotals.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
      f(pcum.withColumn("cum",
        col("pcum") + coalesce(element_at(typedLit(offsets),
          concat_ws(":", coalesce(col("sig"), lit(NullSig)), col("pid"))),
          lit(0L))), totals)
    } finally pcum.unpersist()
  }

  private def boundsFromCum(cumStage: DataFrame,
                            nBuckets: Int): Map[String, Seq[Long]] = {
    withGlobalCum(cumStage) { (cum, totals) =>
      require(totals.nonEmpty && totals.values.forall(_ > 0),
        "quantileBounds: value slice is empty")
      require(!totals.keys.exists(_ == null),
        "quantileBounds: NULL signal/slice key — coalesce the slice " +
          "column to a label before bucketing (decileBySlice does this)")
      val aggs = totals.keys.toSeq.sorted.flatMap { sig =>
        (1 until nBuckets).map { b =>
          val need = math.ceil(b.toDouble * totals(sig) / nBuckets).toLong
          min(when(col("sig") === sig && col("cum") >= need, col("v")))
            .as(s"${sig}__$b")
        }
      }
      val row = cum.agg(aggs.head, aggs.tail: _*).head()
      totals.keys.toSeq.sorted.zipWithIndex.map { case (sig, i) =>
        sig -> (0 until nBuckets - 1).map(b => row.getLong(i * (nBuckets - 1) + b))
      }.toMap
    }
  }

  private def quantileBounds(vals: DataFrame, nBuckets: Int): Seq[Long] =
    quantileBoundsMulti(vals.select(lit("_").as("sig"), col("v")), nBuckets)("_")

  /** Exact equi-depth quantile boundaries as a first-class operator:
    * boundary q (q = 1..k−1) is the smallest value whose running count
    * reaches `ceil(q·n/k)` — the integer rank rule of
    * [[driftReportQuantile]], exposed directly for percentile reporting,
    * length-bucket design, and SLA thresholds. Exact (never an
    * interpolated `percentile_approx`), yet fully distributed: the
    * two-phase prefix sum of [[rangeCumCounts]] — no global sort, no
    * single-task window, the driver holds only partition totals and the
    * k−1 boundaries. */
  def exactQuantiles(df: DataFrame, value: Column, k: Int = 10): DataFrame = {
    require(k >= 2, "need at least two buckets")
    val spark = df.sparkSession
    import spark.implicits._
    val vals = df.select(value.cast("long").as("v"))
    val bounds = quantileBounds(vals, k)
    (1 until k).map(q => (q.toLong, bounds(q - 1))).toDF("q", "boundary")
  }

  /** Robust outlier flags by MEDIAN ABSOLUTE DEVIATION — the robust-
    * statistics alternative to z-scores (one giant outlier corrupts a
    * mean/stddev threshold; the median and MAD ignore it): flag rows with
    * `|v − median| > c·MAD`. Both medians come from the exact integer
    * rank rule via the two-phase prefix sum (two bounded passes, no
    * global sort); the flag itself is a scan-time integer compare. */
  def madOutliers(df: DataFrame, value: Column, idCol: String = "doc_id",
                  c: Long = 3L): DataFrame = {
    val vals = df.select(value.cast("long").as("v"))
    val med = quantileBounds(vals, 2).head
    val mad = quantileBounds(vals.select(abs(col("v") - med).as("v")), 2).head
    df.select(col(idCol), value.cast("long").as("v"))
      .withColumn("dev", abs(col("v") - lit(med)))
      .withColumn("is_outlier", col("dev") > lit(c) * lit(mad))
  }

  /** Quantile CLAMPING (winsorization) — the standard outlier treatment
    * before statistics or model features: values below the `lo`-th or
    * above the `hi`-th of `k` equi-depth boundaries are clamped to the
    * boundary. Boundaries by the exact [[exactQuantiles]] rank rule
    * (collected — 2 longs), the clamp a pure scan-time map. */
  def winsorize(df: DataFrame, value: Column, outCol: String, k: Int = 20,
                lo: Int = 1, hi: Int = 19): DataFrame = {
    require(1 <= lo && lo < hi && hi < k, "need 1 <= lo < hi < k")
    val vals = df.select(value.cast("long").as("v"))
    val bounds = quantileBounds(vals, k)
    df.withColumn(outCol,
      least(greatest(value.cast("long"), lit(bounds(lo - 1))), lit(bounds(hi - 1))))
  }

  def driftReportQuantile(ref: DataFrame, cur: DataFrame, value: Column,
                          nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2, "need at least two buckets")
    val spark = ref.sparkSession
    import spark.implicits._
    val r = ref.select(value.cast("long").as("v"))
    val c = cur.select(value.cast("long").as("v"))
    val rTot = r.count(); val cTot = c.count()
    val bounds = quantileBounds(r, nBuckets)
    val bLit = typedLit(bounds)
    def bucketed(df: DataFrame, name: String) = df
      .select(size(filter(bLit, x => x <= col("v"))).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as(name))
    val buckets = (0 until nBuckets).map(_.toLong).toDF("bucket")
    buckets
      .join(bucketed(r, "ref_n"), Seq("bucket"), "left")
      .join(bucketed(c, "cur_n"), Seq("bucket"), "left")
      .na.fill(0L, Seq("ref_n", "cur_n"))
      .select(col("bucket"), col("ref_n"), col("cur_n"),
        ((col("ref_n") + 1L).cast("double") / lit((rTot + nBuckets).toDouble)).as("ref_frac"),
        ((col("cur_n") + 1L).cast("double") / lit((cTot + nBuckets).toDouble)).as("cur_frac"))
  }

  /** QUANTILE NORMALIZATION per slice: each row's signal mapped to its
    * equi-depth decile WITHIN its own slice (source, language, crawl) —
    * the way incommensurable per-domain score distributions are put on
    * one scale before cross-domain selection ("keep every domain's top
    * 30%", not "keep the global top 30%", which starves whole domains).
    * All slices' boundaries come from ONE histogram pass (the slice key
    * is the prefix sum's signal id); driver state is |slices|·(k−1)
    * boundary longs — slices are domains, a bounded set. The decile map
    * itself is a broadcast-literal scan-time lookup. */
  def decileBySlice(df: DataFrame, slice: Column, value: Column,
                    nBuckets: Int = 10, idCol: String = "doc_id"): DataFrame = {
    // NULL slices are a legitimate bucket of their own: coalesce to the
    // non-colliding sentinel for the prefix-sum + map lookup (Catalyst map
    // literals cannot hold a null key), restore NULL in the output
    val base = df.select(col(idCol),
      coalesce(slice.cast("string"), lit(NullSig)).as("sig"),
      value.cast("long").as("v"))
    val bounds = quantileBoundsMulti(base.select("sig", "v"), nBuckets)
    val bl = typedLit(bounds)
    base.select(col(idCol),
      when(col("sig") === NullSig, lit(null: String))
        .otherwise(col("sig")).as("slice"), col("v"),
      size(filter(element_at(bl, col("sig")), x => x <= col("v")))
        .cast("long").as("decile"))
  }

  /** Rank-based ensemble of heterogeneous quality signals — the
    * scale-safe form of "average the rankings": each integer signal maps
    * to its equi-depth decile (boundaries computed once per signal by
    * the [[driftReportQuantile]] rank rule and applied as a scan-time
    * literal compare — no global rank window, no corpus sort), the
    * composite is the integer SUM of deciles. Rank ensembling is how
    * production pipelines combine incommensurable signals (a length
    * count, a repetition fraction rank, a classifier rank) without unit
    * games; deciles make it one broadcastable literal per signal. All
    * integers — exact on any engine.
    *
    * Measured local floor (sf0.1, 5000 docs, local[32], round 13): the
    * operator is exactly TWO corpus passes — one eager single-job
    * boundary query (all signals' histograms in one explode, AQE-off so
    * the 3 bounded exchanges stay one job; ~0.3 s of which ~0.25 s is
    * the shared scan-floor) and the returned decile-map scan (~0.3 s +
    * plan round). Both passes recompute the signal projection by design:
    * persisting it would be a local-bench trick that materializes
    * O(rows) state and breaks at 10^12 rows, while at real scale the
    * second pass parallelizes freely (the single-task scan here is an
    * artifact of one 594 KB parquet file). The job count is pinned in
    * PlanSpec ("quality_ensemble: construction fires exactly one job"). */
  def qualityEnsemble(docs: DataFrame, signals: Seq[(String, Column)],
                      nBuckets: Int = 10): DataFrame = {
    require(signals.nonEmpty, "need at least one signal")
    val withSignals = docs.select(col("doc_id") +:
      signals.map { case (nm, c) => c.cast("long").as(s"__s_$nm") }: _*)
    // every signal's histogram in ONE corpus scan: the (sig, v) union
    // rides a single explode, and quantileBoundsMulti does one shared
    // prefix-sum pass instead of one per signal. (A Dedup.shingled-style
    // small-file spread of this eager pass was probed in round 13 and
    // measured flat — the boundary query is exchange/window-bound, not
    // signal-compute-bound — so the plan stays minimal.)
    val longVals = withSignals.select(explode(array(
        signals.map { case (nm, _) =>
          struct(lit(nm).as("sig"), col(s"__s_$nm").as("v")) }: _*)).as("sv"))
      .select(col("sv.sig").as("sig"), col("sv.v").as("v"))
    val boundsBySig = quantileBoundsMulti(longVals, nBuckets)
    val deciles = signals.map { case (nm, _) =>
      nm -> size(filter(typedLit(boundsBySig(nm)),
        x => x <= col(s"__s_$nm"))).cast("long")
    }
    val out = deciles.foldLeft(withSignals) { case (df, (nm, d)) =>
      df.withColumn(s"${nm}_decile", d)
    }
    out.select(col("doc_id") +:
      signals.map { case (nm, _) => col(s"${nm}_decile") } :+
      signals.map { case (nm, _) => col(s"${nm}_decile") }
        .reduce(_ + _).as("composite"): _*)
  }

  /** The reference side of [[driftReport]] frozen for STREAMING use:
    * bucket geometry + reference counts, computed once at setup and held
    * on the driver (nBuckets longs). */
  case class DriftRef(mn: Long, width: Long, nBuckets: Int,
                      refN: Seq[Long], refTotal: Long)

  def freezeDriftRef(ref: DataFrame, value: Column, nBuckets: Int = 10): DriftRef = {
    val r = ref.select(value.cast("long").as("v"))
    val bounds = r.agg(min(col("v")), max(col("v")), count(lit(1))).head()
    require(!bounds.isNullAt(0), "freezeDriftRef: reference slice is empty")
    val (mn, mx, total) = (bounds.getLong(0), bounds.getLong(1), bounds.getLong(2))
    val width = math.max(1L, (mx - mn + nBuckets) / nBuckets)
    val counts = r
      .select(least(greatest(expr(s"(v - $mn) div ${width}L"), lit(0L)),
        lit(nBuckets - 1L)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    DriftRef(mn, width, nBuckets,
      (0 until nBuckets).map(b => counts.getOrElse(b.toLong, 0L)), total)
  }

  /** Streaming drift monitoring: absorb an ingest micro-batch into the
    * persisted CUMULATIVE candidate histogram ([[graft.ext.BatchState]]
    * snapshots — replay-safe, crash-dir-invisible) and return the current
    * [[driftReport]] of everything ingested so far against the frozen
    * reference. The alerting composition: feed [[psiTotal]]-style math on
    * the emitted rows and gate the ingest when PSI crosses 0.25. */
  def absorbDriftBatch(spark: SparkSession, stateDir: String, batchId: Long,
                       batch: DataFrame, value: Column, ref: DriftRef): DataFrame = {
    import spark.implicits._
    val (latest, lastId) = BatchState.load(spark, stateDir)
    val replay = lastId.exists(_ >= batchId)
    val base = if (replay) BatchState.load(spark, stateDir, Some(batchId))._1 else latest
    val b = batch.select(value.cast("long").as("v"))
      .select(least(greatest(expr(s"(v - ${ref.mn}) div ${ref.width}L"), lit(0L)),
        lit(ref.nBuckets - 1L)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cur_n"))
    val merged = base.map(_.unionByName(b)).getOrElse(b)
      .groupBy("bucket").agg(sum(col("cur_n")).as("cur_n"))
      .localCheckpoint(true)
    if (!replay) BatchState.save(merged, stateDir, batchId)
    val curTotal = merged.agg(coalesce(sum(col("cur_n")), lit(0L))).head().getLong(0)
    val refRows = ref.refN.zipWithIndex.map { case (n, b) => (b.toLong, n) }
    refRows.toDF("bucket", "ref_n")
      .join(merged, Seq("bucket"), "left").na.fill(0L, Seq("cur_n"))
      .select(col("bucket"),
        (lit(ref.mn) + col("bucket") * ref.width).as("lo"),
        (lit(ref.mn) + (col("bucket") + 1L) * ref.width).as("hi"),
        col("ref_n"), col("cur_n"),
        ((col("ref_n") + 1L).cast("double") /
          lit((ref.refTotal + ref.nBuckets).toDouble)).as("ref_frac"),
        ((col("cur_n") + 1L).cast("double") /
          lit((curTotal + ref.nBuckets).toDouble)).as("cur_frac"))
  }

  /** MAINTAINED exact quantiles over continuous ingest: the per-value
    * count histogram accumulates across batches (counts are additive, so
    * merge = union + re-sum), and each absorption re-derives the
    * boundaries by the same integer rank rule as [[exactQuantiles]] —
    * the maintained table therefore EQUALS the one-shot computation over
    * everything absorbed (spec-pinned), and replayed batches recompute
    * against the pre-batch snapshot (exactly-once via [[BatchState]]'s
    * _SUCCESS-gated snapshots).
    *
    * State size is the DISTINCT-VALUE domain of the signal — the price of
    * exactness (an approximate mergeable sketch trades this bound for
    * error); for the doc-length/score-like signals quantile monitoring
    * targets, that domain is small and stable. The state never funnels
    * through one task: merging is a partial-agged groupBy, boundary
    * extraction the [[rangeCumFromCounts]] two-phase prefix sum. */
  def absorbQuantileBatch(spark: SparkSession, stateDir: String, batchId: Long,
                          batch: DataFrame, value: Column,
                          nBuckets: Int = 10): DataFrame = {
    import spark.implicits._
    val (latest, lastId) = BatchState.load(spark, stateDir)
    val replay = lastId.exists(_ >= batchId)
    val base = if (replay) BatchState.load(spark, stateDir, Some(batchId))._1 else latest
    val b = batch.select(value.cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("n"))
    val merged = base.map(_.unionByName(b)).getOrElse(b)
      .groupBy("v").agg(sum(col("n")).as("n"))
      .localCheckpoint(true)
    if (!replay) BatchState.save(merged, stateDir, batchId)
    val bounds = quantileBoundsFromCounts(
      merged.select(lit("_").as("sig"), col("v"), col("n")), nBuckets)("_")
    (1 until nBuckets).map(q => (q.toLong, bounds(q - 1))).toDF("q", "boundary")
  }

  /** Continuous quantile maintenance over a streaming source. */
  def quantileStream(docs: DataFrame, stateDir: String, value: Column,
                     nBuckets: Int = 10)(sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      sink(absorbQuantileBatch(batch.sparkSession, stateDir, id, batch,
        value, nBuckets))
    }

  /** Total population-stability index over [[driftReport]]'s buckets:
    * `Σ (p−q)·ln(p/q)` folded in ascending bucket order. Spec-gated only
    * (same-JVM exact) — see [[driftReport]] for why `ln` stays out of the
    * driver gate. Rule of thumb: <0.1 stable, 0.1–0.25 drifting, >0.25
    * action needed. */
  def psiTotal(ref: DataFrame, cur: DataFrame, value: Column,
               nBuckets: Int = 10): DataFrame =
    driftReport(ref, cur, value, nBuckets)
      .select(struct(col("bucket"), col("ref_frac").as("p"), col("cur_frac").as("q")).as("s"))
      .agg(aggregate(array_sort(collect_list(col("s"))), lit(0.0), (acc, s) => {
        val p = s.getField("p"); val q = s.getField("q")
        acc + (p - q) * log(p / q)
      }).as("psi"))

  /** Calibration table for a scored corpus: bucket rows by score band and
    * report the positive rate per band — the reliability diagram's data
    * (a well-calibrated scorer's `pos_rate` tracks its score). Bands are
    * fixed-width on the score (`floor(score / width)`, clamped to
    * [minBand, maxBand]) so banding needs no quantile pass; counts are
    * integers and the rate one division. One partial-agged groupBy. */
  def calibrationTable(scored: DataFrame, score: Column, label: Column,
                       width: Double = 0.5, minBand: Int = -8,
                       maxBand: Int = 8): DataFrame =
    scored.select(
        least(greatest(floor(score / width), lit(minBand.toLong)),
          lit(maxBand.toLong)).as("band"),
        when(label, 1L).otherwise(0L).as("__y"))
      .groupBy("band")
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"))
      .select(col("band"), col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n").cast("double")).as("pos_rate"))

  /** Exact ROC-AUC by the rank-sum (Mann–Whitney) identity with the
    * standard tie correction: a tied score group with `c` members and
    * `cumBefore` smaller-scored rows has average rank `cumBefore +
    * (c+1)/2`, so the positives' rank sum is `Σ n_pos(s)·(2·cumBefore(s)
    * + c(s) + 1) / 2` — an INTEGER sum halved once, order-independent
    * and bit-deterministic. Scale posture: no global sort, no
    * unpartitioned window — per-score counts reduce first (one
    * partial-agged exchange of the distinct-score domain), and the
    * cumulative count is the [[rangeCumCounts]] two-phase prefix sum;
    * everything after is one aggregate row. Returns (auc, n_pos, n_neg). */
  def aucExact(scored: DataFrame, score: Column, label: Column): DataFrame = {
    val spark = scored.sparkSession
    val counts = scored
      .select(score.as("v"), when(label, 1L).otherwise(0L).as("__y"))
      .groupBy("v").agg(count(lit(1)).as("n"), sum(col("__y")).as("np"))
      .select(lit("_").as("sig"), col("v"), col("n"), col("np"))
    // np·(2·cumBefore + c + 1) overflows int64 once n_pos·N > ~4.6e18 —
    // well inside the 10^12-row posture — so the rank sum accumulates in
    // decimal(38,0) (the oracle's HUGEINT) and converts to double ONCE
    // for the final division
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val row = withGlobalCum(rangeCumFromCounts(counts)) { (cum, _) =>
      cum.agg(
        sum(col("np").cast(dec38) *
            (lit(2L) * (col("cum") - col("n")) + col("n") + 1L).cast(dec38))
          .as("rs2"),
        sum(col("np")).as("n_pos"), sum(col("n") - col("np")).as("n_neg"))
        .head()
    }
    val rs2 = row.getDecimal(0)
    val (nPos, nNeg) = (row.getLong(1), row.getLong(2))
    // the same float operation sequence as the DuckDB oracle: rank sum
    // (exact halves), minus n_pos(n_pos+1)/2, over n_pos·n_neg
    spark.range(1).select(
      ((lit(rs2.doubleValue / 2.0) -
        lit(nPos.toDouble) * lit((nPos + 1).toDouble) / 2.0) /
        (lit(nPos.toDouble) * lit(nNeg.toDouble))).as("auc"),
      lit(nPos).as("n_pos"), lit(nNeg).as("n_neg"))
  }

  /** [[aucExact]] PER SLICE — the per-language / per-source eval table a
    * release review reads ("does the scorer rank as well on low-resource
    * slices?"). The slice key rides the multi-signal prefix sum as the
    * signal id, so EVERY slice's rank statistics come out of ONE
    * histogram pass; slices with a single class emit a null auc rather
    * than a division by zero. */
  def aucByGroup(scored: DataFrame, group: Column, score: Column,
                 label: Column): DataFrame = {
    val counts = scored
      .select(group.cast("string").as("sig"), score.as("v"),
        when(label, 1L).otherwise(0L).as("__y"))
      .groupBy("sig", "v").agg(count(lit(1)).as("n"), sum(col("__y")).as("np"))
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    withGlobalCum(rangeCumFromCounts(counts)) { (cum, _) =>
      cum.groupBy("sig").agg(
          sum(col("np").cast(dec38) *
              (lit(2L) * (col("cum") - col("n")) + col("n") + 1L).cast(dec38))
            .as("rs2"),
          sum(col("np")).as("n_pos"), sum(col("n") - col("np")).as("n_neg"))
        .select(col("sig").as("slice"),
          when(col("n_pos") > 0 && col("n_neg") > 0,
            (col("rs2").cast("double") / 2.0 -
              col("n_pos").cast("double") * (col("n_pos") + 1L).cast("double") / 2.0) /
              (col("n_pos").cast("double") * col("n_neg").cast("double"))).as("auc"),
          col("n_pos"), col("n_neg"))
        .localCheckpoint(true) // materialize before the cum stage unpersists
    }
  }

  /** Precision/recall table over score-band thresholds: for each band b,
    * the outcome of accepting everything scoring IN OR ABOVE b —
    * cumulative counts from the top band down (one tiny window over the
    * ≤ |bands| rows of [[calibrationTable]]'s aggregate, NOT over the
    * corpus), precision/recall as single divisions of exact integers.
    * The threshold-picking table every deployed quality filter ships
    * with. */
  def prCurve(scored: DataFrame, score: Column, label: Column,
              width: Double = 0.5, minBand: Int = -8,
              maxBand: Int = 8): DataFrame = {
    val bands = calibrationTable(scored, score, label, width, minBand, maxBand)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("band"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    bands
      .withColumn("n_accepted", sum(col("n")).over(w))
      .withColumn("tp", sum(col("n_pos")).over(w))
      .withColumn("__pos_total", sum(col("n_pos")).over(tot))
      .select(col("band"), col("n_accepted"), col("tp"),
        (col("tp").cast("double") / col("n_accepted").cast("double")).as("precision"),
        (col("tp").cast("double") / col("__pos_total").cast("double")).as("recall"))
  }

  /** SQuAD-style answer-overlap metrics per (prediction, gold) pair —
    * the evaluation primitive for generated-answer checking (Rajpurkar
    * et al. 2016 §6.1): token-multiset overlap, precision, recall, F1,
    * and exact match. Everything is rational arithmetic over integer
    * token counts — overlap = Σ_t min(count_pred(t), count_gold(t));
    * `f1 = 2·ov/(len_p+len_g)` is ONE correctly-rounded division (the
    * algebraic collapse of 2PR/(P+R), which would round three times) —
    * so results are bit-identical across engines. To aggregate, micro-F1
    * = `2·Σov / Σ(len_p+len_g)` stays a single exact division of summed
    * integers; a MEAN of per-row F1s is summation-order nondeterministic
    * — don't.
    *
    * Entirely NARROW per-row compute, rides the scan. The per-row
    * multiset intersection is O(|distinct|·|tokens|) HOF work — fine for
    * the answer/sentence lengths this metric exists for; a
    * document-corpus overlap question belongs to [[graft.ext.Hygiene
    * .corpusOverlap]]'s exploded formulation instead. */
  def tokenF1(pairs: DataFrame, id: Column, pred: Column, gold: Column): DataFrame = {
    def toksOf(c: Column) = filter(split(c, " "), w => length(w) > 0)
    val p = col("__p"); val g = col("__g")
    pairs
      .select(id.as("id"), pred.as("__ps"), gold.as("__gs"))
      .withColumn("__p", toksOf(col("__ps")))
      .withColumn("__g", toksOf(col("__gs")))
      .withColumn("overlap", aggregate(array_distinct(p), lit(0L), (acc, t) =>
        acc + least(size(filter(p, x => x === t)), size(filter(g, x => x === t)))))
      .select(col("id"), col("overlap"),
        size(p).cast("long").as("len_pred"), size(g).cast("long").as("len_gold"),
        when(size(p) === 0, lit(0.0))
          .otherwise(col("overlap").cast("double") / size(p).cast("double"))
          .as("precision"),
        when(size(g) === 0, lit(0.0))
          .otherwise(col("overlap").cast("double") / size(g).cast("double"))
          .as("recall"),
        when(size(p) + size(g) === 0, lit(0.0))
          .otherwise((lit(2L) * col("overlap")).cast("double") /
            (size(p) + size(g)).cast("double")).as("f1"),
        (col("__ps") === col("__gs")).cast("long").as("exact"))
  }


  /** ROUGE-L (Lin 2004 §3.1): LCS-based precision/recall/F1 over token
    * arrays — the third leg of the eval triad beside [[tokenF1]] (multiset
    * unigram overlap, order-blind) and [[bleuCorpus]] (clipped n-gram
    * precision, corpus-pooled): ROUGE-L credits ORDER, so a shuffled
    * candidate keeps its token-F1 but loses ROUGE-L. The LCS is a native
    * codegen'd expression ([[graft.functions.LcsLength]] — the classic
    * O(n·m) two-row DP with min(n,m)+1 longs of per-row state, a per-row
    * bound a document-length cap keeps honest, never corpus-scale);
    * everything after is three single divisions of exact integers. One
    * narrow scan, nothing shuffles. Empty sides score 0.0 (the
    * [[tokenF1]] convention), as does an empty union. */
  def rougeL(pairs: DataFrame, id: Column, cand: Column,
             ref: Column): DataFrame = {
    val base = pairs.select(id.as("id"), cand.as("__c"), ref.as("__r"))
      .withColumn("lcs", graft.functions.vectors.lcsLength(col("__c"), col("__r")))
      .withColumn("n_cand", size(col("__c")).cast("long"))
      .withColumn("n_ref", size(col("__r")).cast("long"))
    base.select(col("id"), col("lcs"), col("n_cand"), col("n_ref"),
        when(col("n_cand") === 0, lit(0.0))
          .otherwise(col("lcs").cast("double") / col("n_cand").cast("double"))
          .as("rouge_l_p"),
        when(col("n_ref") === 0, lit(0.0))
          .otherwise(col("lcs").cast("double") / col("n_ref").cast("double"))
          .as("rouge_l_r"))
      .withColumn("rouge_l_f",
        when(col("rouge_l_p") + col("rouge_l_r") === 0.0, lit(0.0))
          .otherwise(lit(2.0) * col("rouge_l_p") * col("rouge_l_r") /
            (col("rouge_l_p") + col("rouge_l_r"))))
  }

  /** Corpus-level BLEU-4 (Papineni et al. 2002 §2) over (candidate,
    * reference) text pairs: clipped n-gram precision `p_n = Σclip_n /
    * Σemit_n` for n = 1..4 pooled CORPUS-wide (the paper's micro pooling —
    * a mean of per-sentence BLEUs would be summation-order
    * nondeterministic), brevity penalty from corpus token totals, and
    * `bleu = bp · (p1·p2·p3·p4)^(1/4)`. The quarter power is
    * sqrt(sqrt(·)) — two IEEE correctly-rounded operations — rather than
    * exp(mean(log p)), so wherever bp = 1 (candidate corpus at least as
    * long as the reference) every output is exact rational arithmetic +
    * sqrt and bit-identical across engines; the `exp(1 − r/c)` short-
    * candidate branch is the one transcendental BLEU cannot avoid.
    *
    * Scale: per-row NARROW HOF work (clipped multiset intersection per n,
    * the [[tokenF1]] fold over n-grams) followed by ONE global
    * partial-agged sum of 10 longs — a single corpus pass, and the only
    * exchange is the single-row final aggregate. */
  def bleuCorpus(pairs: DataFrame, cand: Column, ref: Column): DataFrame = {
    def toks(c: Column) = filter(split(c, " "), w => length(w) > 0)
    // a per-row HOF multiset fold here would be O(|distinct|*|tokens|)
    // per row per order — quadratic in document length and outside
    // whole-stage codegen (measured ~100x slower than columnar engines on
    // document-length rows). Instead grams EXPLODE to (pair, n, gram)
    // counts — linear in total grams — and clip via one co-partitioned
    // inner join of the candidate/reference count tables (a gram missing
    // from the reference clips to 0 and needs no row). The pair id is
    // checkpointed so both count subtrees see identical ids.
    // spread before the checkpoint (r17): a one-file input checkpoints as
    // ONE partition and every downstream gram-hash map side then runs
    // single-task — the two ~1 s 1-task stages in the r17 job profile
    val tok = Dedup.spread(pairs)
      .select(monotonically_increasing_id().as("__id"),
        toks(cand).as("__c"), toks(ref).as("__r"))
      .localCheckpoint(true)
    // gram text never reaches the output (only counts do), so the
    // count/join key is the gram's xxhash64 — 8-byte keys on the
    // corpus-sized exchanges instead of strings (a 64-bit collision
    // would merge two gram counts; ~10⁻⁵ odds at 10⁹ grams, and the
    // driver oracle would catch it). Hashes come straight off the token
    // array in one native pass per order (r14,
    // [[graft.functions.ArrayGramHashes]] — the HOF chain allocated the
    // joined gram string per gram through interpreted lambdas)
    def gramCounts(side: Column, out: String) = tok
      .select(col("__id"),
        explode(array((1 to 4).map(n => struct(lit(n).as("n"),
          graft.functions.vectors.arrayGramHashes(side, n).as("gs"))): _*)).as("__e"))
      .select(col("__id"), col("__e.n").as("n"), explode(col("__e.gs")).as("g"))
      .groupBy("__id", "n", "g").agg(count(lit(1)).as(out))
    val cc = gramCounts(col("__c"), "cc")
    val rc = gramCounts(col("__r"), "rc")
    val clips = cc.join(rc, Seq("__id", "n", "g"))
      .groupBy("n").agg(sum(least(col("cc"), col("rc"))).as("clip"))
    val perN = cc.groupBy("n").agg(sum(col("cc")).as("tot"))
      .join(clips, Seq("n"), "left")
    val wideCols = (1 to 4).flatMap(n => Seq(
      coalesce(sum(when(col("n") === n, col("clip"))), lit(0L)).as(s"clip$n"),
      coalesce(sum(when(col("n") === n, col("tot"))), lit(0L)).as(s"tot$n")))
    val wide = perN.agg(wideCols.head, wideCols.tail: _*)
    val lens = tok.agg(sum(size(col("__c"))).cast("long").as("c_len"),
      sum(size(col("__r"))).cast("long").as("r_len"))
    val agg = wide.crossJoin(lens)
    // a corpus with no n-grams at order n (every row shorter than n) has
    // undefined p_n — NULL, not a div-by-zero (ANSI) or a fake 0
    val ps = (1 to 4).map(n =>
      when(col(s"tot$n") === 0, lit(null).cast("double"))
        .otherwise(col(s"clip$n").cast("double") / col(s"tot$n").cast("double"))
        .as(s"p$n"))
    agg.select(ps ++ Seq(col("c_len"), col("r_len")): _*)
      .withColumn("bp", when(col("c_len") >= col("r_len"), lit(1.0))
        .otherwise(exp(lit(1.0) -
          col("r_len").cast("double") / col("c_len").cast("double"))))
      .withColumn("bleu", col("bp") *
        sqrt(sqrt(col("p1") * col("p2") * col("p3") * col("p4"))))
  }


  /** chrF (Popović 2015, WMT's character-n-gram F-score): per (candidate,
    * reference) pair, multiset precision/recall of character n-grams for
    * n = 1..`maxN`, arithmetic-averaged over orders, combined as
    * F_β = (1+β²)·P̄·R̄ / (β²·P̄ + R̄) with β = 2 (recall-weighted) — the
    * fourth eval metric beside [[tokenF1]], [[bleuCorpus]], and
    * [[rougeL]], and the character-level one that survives tokenization
    * and morphology differences. Conventions (documented, oracle-mirrored):
    * by default ASCII whitespace is STRIPPED before gram extraction —
    * Popović 2015 and sacrebleu's chrF both ignore whitespace by default,
    * so scores from this chrF are comparable to the standard tool; pass
    * `includeWhitespace = true` for raw-string grams (the pre-round-13
    * behavior). An order with zero candidate (reference) grams
    * contributes precision (recall) 0.
    *
    * Exactness: per-order matched/total counts are exact integers from
    * the row-local [[graft.functions.ChrfStats]] expression, and P̄/R̄/F
    * are a FIXED chain of IEEE ops over those integers — bit-identical
    * cross-engine.
    *
    * Scale: candidate and reference live in the SAME row, so the whole
    * metric is ONE scan with zero exchanges — the native expression
    * sort-merges the per-order gram-hash multisets inside the row
    * (unlike corpus BLEU, where clipping is also row-local but the
    * corpus-level p_n sums genuinely aggregate). The round-12 explode +
    * full-outer-join shape shuffled ~len·maxN rows per doc per side and
    * measured 17 s vs the oracle's 1.2 s at sf0.1; this shape is
    * scan-floor-bound. A row whose BOTH sides are NULL is dropped (the
    * join shape's convention); a one-sided NULL scores as empty. */
  def chrF(pairs: DataFrame, id: Column, cand: Column, ref: Column,
           maxN: Int = 6, beta: Double = 2.0,
           includeWhitespace: Boolean = false): DataFrame = {
    require(maxN >= 1 && maxN <= 8 && beta > 0, "need 1 <= maxN <= 8, beta > 0")
    // the sacrebleu default strips whitespace before gram extraction; the
    // explicit ASCII class (not \s — Java's matches \x0B, RE2's doesn't)
    // keeps the oracle regex byte-identical cross-engine
    def ws(c: Column): Column =
      if (includeWhitespace) c else regexp_replace(c, "[ \\t\\r\\n\\f]+", "")
    // spread first (r17): a one-file input runs the whole native gram
    // pass single-task otherwise (no-op on many-files inputs at scale)
    val base = Dedup.spread(pairs).select(id.as("id"), ws(cand).as("__c"), ws(ref).as("__r"))
      // both-NULL rows are dropped (the old join shape had no row to emit);
      // a one-sided NULL coalesces to "" → zero grams → p/r contribute 0
      .where(col("__c").isNotNull || col("__r").isNotNull)
    val wide = base.select(col("id"),
      graft.functions.vectors.chrfStats(coalesce(col("__c"), lit("")),
        coalesce(col("__r"), lit("")), maxN).as("__st"))
    // element_at is 1-based; layout per order n is [m, ct, rt]
    def st(n: Int, k: Int): Column = element_at(col("__st"), 3 * (n - 1) + k)
    def ratio(num: Column, den: Column): Column =
      when(den > 0, num.cast("double") / den.cast("double")).otherwise(lit(0.0))
    // the same fixed left-to-right IEEE chain as the oracle SQL
    val pBar = (1 to maxN).map(n => ratio(st(n, 1), st(n, 2)))
      .reduce(_ + _) / lit(maxN.toDouble)
    val rBar = (1 to maxN).map(n => ratio(st(n, 1), st(n, 3)))
      .reduce(_ + _) / lit(maxN.toDouble)
    val b2 = beta * beta
    wide.select(col("id"), pBar.as("chr_p"), rBar.as("chr_r"))
      .withColumn("chrf",
        when(lit(b2) * col("chr_p") + col("chr_r") === 0.0, lit(0.0))
          .otherwise(lit(1.0 + b2) * col("chr_p") * col("chr_r") /
            (lit(b2) * col("chr_p") + col("chr_r"))))
  }

  /** chrF++ (Popović 2017; sacrebleu's `chrF++` = chrF with word n-grams):
    * [[chrF]]'s character 1..`maxN`-gram P/R averaged TOGETHER with word
    * 1..`wordN`-gram P/R — P̄ = (Σ char ratios + Σ word ratios)/(maxN +
    * wordN), F_β as in chrF. Word order enters through the word-gram half
    * (a shuffled candidate keeps its char-gram profile but loses word
    * bigrams), fixing chrF's blindness to it. Conventions: char grams
    * over ASCII-whitespace-stripped strings (the chrF default), word
    * grams over SPACE-split tokens of the RAW strings (empty tokens
    * dropped) — the oracle mirrors `string_split(s, ' ')` exactly.
    *
    * Scale: both gram statistics are row-local native expressions
    * ([[graft.functions.ChrfStats]] + [[graft.functions.TokenGramStats]])
    * — one scan, zero exchanges; P̄/R̄/F are a FIXED left-to-right IEEE
    * chain (char orders then word orders) over exact integers, mirrored
    * operation-for-operation by the SQL oracle. */
  def chrfPP(pairs: DataFrame, id: Column, cand: Column, ref: Column,
             maxN: Int = 6, wordN: Int = 2, beta: Double = 2.0): DataFrame = {
    require(maxN >= 1 && maxN <= 8 && wordN >= 1 && wordN <= 8 && beta > 0,
      "need 1 <= maxN, wordN <= 8, beta > 0")
    def ws(c: Column): Column = regexp_replace(c, "[ \\t\\r\\n\\f]+", "")
    def toks(c: Column): Column =
      filter(split(coalesce(c, lit("")), " "), t => t =!= "")
    val wide = Dedup.spread(pairs).select(id.as("id"), cand.as("__c"), ref.as("__r"))
      .where(col("__c").isNotNull || col("__r").isNotNull)
      .select(col("id"),
        graft.functions.vectors.chrfStats(ws(coalesce(col("__c"), lit(""))),
          ws(coalesce(col("__r"), lit(""))), maxN).as("__cs"),
        graft.functions.vectors.tokenGramStats(toks(col("__c")),
          toks(col("__r")), wordN).as("__ws"))
    def st(a: String, n: Int, k: Int): Column = element_at(col(a), 3 * (n - 1) + k)
    def ratio(num: Column, den: Column): Column =
      when(den > 0, num.cast("double") / den.cast("double")).otherwise(lit(0.0))
    val orders = (1 to maxN).map(n => ("__cs", n)) ++ (1 to wordN).map(n => ("__ws", n))
    val denom = lit((maxN + wordN).toDouble)
    val pBar = orders.map { case (a, n) => ratio(st(a, n, 1), st(a, n, 2)) }
      .reduce(_ + _) / denom
    val rBar = orders.map { case (a, n) => ratio(st(a, n, 1), st(a, n, 3)) }
      .reduce(_ + _) / denom
    val b2 = beta * beta
    wide.select(col("id"), pBar.as("chrfpp_p"), rBar.as("chrfpp_r"))
      .withColumn("chrf_pp",
        when(lit(b2) * col("chrfpp_p") + col("chrfpp_r") === 0.0, lit(0.0))
          .otherwise(lit(1.0 + b2) * col("chrfpp_p") * col("chrfpp_r") /
            (lit(b2) * col("chrfpp_p") + col("chrfpp_r"))))
  }

  /** Sentence-level BLEU-4 (Papineni 2002 applied per pair): clipped
    * word-n-gram precisions p₁..p₄ from the row-local
    * [[graft.functions.TokenGramStats]] multiset intersection, brevity
    * penalty `exp(1 − r/c)`, score `BP · ⁴√(p₁p₂p₃p₄)` — the per-example
    * sibling of [[bleuCorpus]] (which pools counts corpus-wide), and the
    * self-similarity measurement for synthetic-data diversity (Self-BLEU:
    * pair each sample against its neighbors; high scores = mode
    * collapse). Conventions: tokens are space-split with empty tokens
    * dropped; an order with zero candidate grams contributes p = 0 (an
    * unsmoothed sentence BLEU — any zero order zeroes the score, which is
    * the honest per-sentence reading); an empty candidate scores 0.
    *
    * Exactness: per-order integers from the native expression; p-chain,
    * BP, and the √√ geometric mean are a FIXED IEEE chain (sqrt is
    * correctly rounded; exp matches the [[bleuCorpus]] precedent).
    * Scale: ONE scan, zero exchanges — both sides live in the row. */
  def sentenceBleu(pairs: DataFrame, id: Column, cand: Column,
                   ref: Column): DataFrame = {
    def tk(c: Column): Column = filter(split(coalesce(c, lit("")), " "), t => t =!= "")
    val base = Dedup.spread(pairs).select(id.as("id"), tk(cand).as("__c"), tk(ref).as("__r"))
      .where(col("__c").isNotNull || col("__r").isNotNull)
    val wide = base.select(col("id"),
      size(col("__c")).cast("long").as("c_len"),
      size(col("__r")).cast("long").as("r_len"),
      graft.functions.vectors.tokenGramStats(col("__c"), col("__r"), 4).as("__st"))
    def st(n: Int, k: Int): Column = element_at(col("__st"), 3 * (n - 1) + k)
    def p(n: Int): Column =
      when(st(n, 2) > 0, st(n, 1).cast("double") / st(n, 2).cast("double"))
        .otherwise(lit(0.0))
    val bp = when(col("c_len") === 0, lit(0.0))
      .when(col("c_len") >= col("r_len"), lit(1.0))
      .otherwise(exp(lit(1.0) -
        col("r_len").cast("double") / col("c_len").cast("double")))
    wide.select(col("id"), col("c_len"), col("r_len"), bp.as("bp"),
      (bp * sqrt(sqrt(p(1) * p(2) * p(3) * p(4)))).as("bleu"))
  }

  /** Self-BLEU diversity report (Zhu et al. 2018's texygen metric, the
    * standard mode-collapse check for synthetic corpora): each document
    * scored by [[sentenceBleu]] against the NEXT document of its group
    * (id order — the deterministic neighbor pairing; a diverse corpus
    * scores near 0, templated/regurgitated generations score high), then
    * per-group `(n_pairs, mean_bleu)`. The per-group mean folds the
    * (id, bleu) pairs in id order — the [[graft.ext
    * .Similarity.poolEmbeddings]] ordered-fold discipline, never an
    * unordered float SUM.
    *
    * Scale: one lead() window per group (groups partition the corpus),
    * the row-local scorer, and a group-cardinality aggregation. */
  def selfBleu(docs: DataFrame, group: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("grp").orderBy("doc_id")
    val paired = docs.select(group.as("grp"), col("doc_id"), col("text"))
      .withColumn("__ref", lead(col("text"), 1).over(w))
      .where(col("__ref").isNotNull)
    val scored = sentenceBleu(paired, col("doc_id"), col("text"), col("__ref"))
      .select(col("id"), col("bleu"))
      .join(paired.select(col("doc_id").as("id"), col("grp")), Seq("id"))
    scored.groupBy("grp")
      .agg(count(lit(1)).as("n_pairs"),
        (aggregate(
          array_sort(collect_list(struct(col("id"), col("bleu")))),
          lit(0.0), (acc, s) => acc + s.getField("bleu")) /
          count(lit(1)).cast("double")).as("mean_bleu"))
      .select(col("grp").as("source"), col("n_pairs"), col("mean_bleu"))
  }

  /** Cohen's κ inter-annotator agreement (Cohen 1960) between two
    * categorical label columns — the data-QA gate for human-labeled
    * SFT/preference corpora (is annotator consistency above chance before
    * the labels train anything?). Observed agreement po, chance agreement
    * pe from the marginal label distributions, and
    * `κ = (N·A − Σ_k na_k·nb_k) / (N² − Σ_k na_k·nb_k)` — the rational
    * collapse of (po−pe)/(1−pe) into ONE correctly-rounded division of
    * exact integer sums, bit-identical across engines. Counts accumulate
    * in decimal(38,0): at 10^12 labeled rows N² and the marginal products
    * overflow a long.
    *
    * Two partial-agged passes (joint agreement + the two label marginals),
    * every exchange bounded by label cardinality, never row count. */
  def cohenKappa(df: DataFrame, a: Column, b: Column): DataFrame = {
    val pairs = df.select(a.as("__a"), b.as("__b"))
    val base = pairs.agg(
      count(lit(1)).cast("decimal(38,0)").as("__n"),
      sum((col("__a") === col("__b")).cast("long"))
        .cast("decimal(38,0)").as("__agree"))
    val am = pairs.groupBy(col("__a").as("lbl")).agg(count(lit(1)).as("na"))
    val bm = pairs.groupBy(col("__b").as("lbl")).agg(count(lit(1)).as("nb"))
    // inner join: a label one annotator never uses has a zero marginal
    // product and contributes nothing to pe
    val chance = am.join(bm, Seq("lbl"))
      .agg(coalesce(sum(col("na").cast("decimal(19,0)") *
        col("nb").cast("decimal(19,0)")), lit(0))
        .cast("decimal(38,0)").as("__chance"))
    base.crossJoin(chance).select(
      col("__n").cast("long").as("n"),
      col("__agree").cast("long").as("n_agree"),
      (col("__agree").cast("double") / col("__n").cast("double")).as("po"),
      (col("__chance").cast("double") /
        (col("__n") * col("__n")).cast("double")).as("pe"),
      when(col("__n") * col("__n") === col("__chance"),
        lit(null).cast("double"))
        .otherwise((col("__n") * col("__agree") - col("__chance")).cast("double") /
          (col("__n") * col("__n") - col("__chance")).cast("double"))
        .as("kappa"))
  }

  /** Murphy decomposition of the Brier score (Murphy 1973) over binned
    * probability forecasts: per forecast bin k with implied forecast
    * `p̂_k = (2k+1)/(2·nBins)` (bin centers), the reliability term
    * `n_k·(p̂_k − ō_k)²` and resolution term `n_k·(ō_k − ō)²`, plus the
    * shared uncertainty `ō(1−ō)` — so `Brier = (ΣREL − ΣRES)/N + UNC`.
    * The calibration diagnostic behind every reward-model / quality-
    * classifier scorecard: REL says the probabilities are miscalibrated,
    * RES says they at least separate the classes.
    *
    * All terms are RATIONAL in the integer bin counts — each is emitted
    * as one correctly-rounded division of exact decimal(38,0) products
    * (e.g. REL_k = ((2k+1)·n_k − 2·nBins·pos_k)² / ((2·nBins)²·n_k)), so
    * every row is bit-identical across engines; a float mean of per-row
    * (p−o)² would be summation-order nondeterministic. ONE partial-agged
    * pass to nBins rows + a broadcast single-row total. */
  def brierDecomposition(df: DataFrame, forecastBin: Column, nBins: Int,
                         outcome: Column): DataFrame = {
    require(nBins >= 2, "need at least two bins")
    val scale = 2L * nBins
    val dec = "decimal(38,0)"
    val d = df.select(forecastBin.cast("long").as("bin"),
      outcome.cast("long").as("__o"))
    val tot = d.agg(count(lit(1)).cast(dec).as("__N"),
      sum(col("__o")).cast(dec).as("__POS"))
    val relNum = (lit(2).cast(dec) * col("bin").cast(dec) + lit(1).cast(dec)) *
      col("n").cast(dec) - lit(scale).cast(dec) * col("n_pos").cast(dec)
    val resNum = col("n_pos").cast(dec) * col("__N") -
      col("n").cast(dec) * col("__POS")
    d.groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("__o")).as("n_pos"))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("n_pos"),
        ((lit(2) * col("bin") + 1).cast("double") / lit(scale.toDouble))
          .as("p_hat"),
        (col("n_pos").cast("double") / col("n").cast("double")).as("o_bar"),
        ((relNum * relNum).cast("double") /
          (lit(scale * scale).cast(dec) * col("n").cast(dec)).cast("double"))
          .as("rel_term"),
        ((resNum * resNum).cast("double") /
          (col("n").cast(dec) * col("__N") * col("__N")).cast("double"))
          .as("res_term"),
        ((col("__POS") * (col("__N") - col("__POS"))).cast("double") /
          (col("__N") * col("__N")).cast("double")).as("uncertainty"))
  }

  /** Isotonic (monotone non-decreasing) calibration over binned forecasts
    * — the PAVA fit every reward-model / quality-classifier pipeline runs
    * before using scores as probabilities, computed by the MINIMAX
    * closed form instead of the sequential pool-adjacent-violators loop:
    * `iso_k = max_{i≤k} min_{j≥k} (Σ_{i..j} pos / Σ_{i..j} n)` — exactly
    * the PAVA solution (Robertson et al. 1988 thm 1.4.4), but expressed
    * as joins/windows over the K-bin table, so it is DECLARATIVE, has no
    * data-dependent iteration, and mirrors 1:1 into the SQL oracle.
    *
    * Scale: the corpus collapses to K bins in ONE partial-agged pass;
    * the K³ (i ≤ k ≤ j) interval expansion is plan-side arithmetic over
    * ≤ K² rows (K = 10-50 calibration bins — thousands of rows, not
    * corpus rows). Interval rates are single correctly-rounded divisions
    * of exact integer prefix sums; min/max of identical doubles agree
    * across engines. */
  def isotonicCalibration(df: DataFrame, forecastBin: Column,
                          outcome: Column): DataFrame = {
    val bins = df.select(forecastBin.cast("long").as("bin"),
        outcome.cast("long").as("__o"))
      .groupBy("bin").agg(count(lit(1)).as("n"), sum(col("__o")).as("n_pos"))
    val wc = org.apache.spark.sql.expressions.Window.orderBy(col("bin").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = bins
      .withColumn("cn", sum(col("n")).over(wc))
      .withColumn("cp", sum(col("n_pos")).over(wc))
    val lo = cum.select(col("bin").as("i"), (col("cn") - col("n")).as("cn0"),
      (col("cp") - col("n_pos")).as("cp0"))
    val hi = cum.select(col("bin").as("j"), col("cn").as("cn1"),
      col("cp").as("cp1"))
    val intervals = lo.join(hi, col("i") <= col("j"))
      .select(col("i"), col("j"),
        ((col("cp1") - col("cp0")).cast("double") /
          (col("cn1") - col("cn0")).cast("double")).as("frac"))
    val perK = intervals
      .select(col("i"), col("frac"), explode(sequence(col("i"), col("j"))).as("k"))
      .groupBy(col("k"), col("i")).agg(min(col("frac")).as("__mn"))
      .groupBy(col("k")).agg(max(col("__mn")).as("iso_rate"))
    bins.join(perK, col("bin") === col("k"))
      .select(col("bin"), col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n").cast("double")).as("raw_rate"),
        col("iso_rate"))
  }

  /** Split-conformal threshold per group (Vovk et al.; the distribution-
    * free "flag anything above the calibrated cutoff" rule): the
    * `⌈(1−α)(n+1)⌉`-th smallest calibration score, computed by the exact
    * integer rank rule over per-(group, value) counts — a window over
    * DISTINCT values per group, never a row-level sort. A group whose
    * rank exceeds n (too few calibration points for the coverage level)
    * emits a NULL threshold — the honest "cannot certify" answer.
    * α = `alphaNum/alphaDen` as integers so the target rank is exact. */
  def conformalThreshold(df: DataFrame, group: Column, scoreCents: Column,
                         alphaNum: Long = 1L, alphaDen: Long = 10L): DataFrame = {
    require(alphaNum > 0 && alphaNum < alphaDen, "need 0 < alpha < 1")
    val counts = df.select(group.as("grp"), scoreCents.cast("long").as("v"))
      .groupBy("grp", "v").agg(count(lit(1)).as("c"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("v").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wg = org.apache.spark.sql.expressions.Window.partitionBy("grp")
    val ranked = counts
      .withColumn("cr", sum(col("c")).over(wc))
      .withColumn("n", sum(col("c")).over(wg))
      // ceil(a/d) in exact integer arithmetic: subtract the remainder so
      // the division is exact, then bump iff a remainder existed
      .withColumn("__a", lit(alphaDen - alphaNum) * (col("n") + 1))
      .withColumn("rank",
        ((col("__a") - pmod(col("__a"), lit(alphaDen))) / lit(alphaDen))
          .cast("long") +
          when(pmod(col("__a"), lit(alphaDen)) > 0, 1L).otherwise(0L))
    ranked.groupBy(col("grp"), col("n"), col("rank"))
      .agg(min(when(col("cr") >= col("rank"), col("v"))).as("threshold_cents"))
  }

  /** Spearman rank correlation between two integer signals — "do these
    * two quality signals agree on ordering" (the question behind
    * [[qualityEnsemble]]'s decile summing and every signal-redundancy
    * audit), tie-corrected by computing Pearson on DOUBLED average ranks:
    * a tie group's average rank `(first + last)/2` doubles to the integer
    * `2·rank_min + ties − 1`, so all five correlation sums stay EXACT in
    * decimal(38,0) and the statistic is two correctly-rounded doubles, a
    * sqrt, and one division — bit-identical across engines (the doubling
    * cancels algebraically in the correlation).
    *
    * Scale: ranks come from the exact integer rank rule over DISTINCT
    * values per signal (cumulative counts — never a row-level global
    * sort), joined back as a broadcast (distinct-value cardinality); the
    * five sums are one partial-agged pass. */
  def spearmanCorr(df: DataFrame, x: Column, y: Column): DataFrame = {
    val dec = "decimal(38,0)"
    // doubled average rank of the tie group at value v: with `before`
    // smaller values, ranks run before+1 .. before+c, so
    // 2·avg = 2·(before+1) + (c−1)
    val base = df.select(x.cast("long").as("__x"), y.cast("long").as("__y"))
    val withRx = {
      val counts = base.groupBy("__x").agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("__x").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val r = counts.withColumn("__b", coalesce(sum(col("c")).over(w), lit(0L)))
        .select(col("__x"), (lit(2) * (col("__b") + 1) + col("c") - 1).as("rx"))
      base.join(broadcast(r), Seq("__x"))
    }
    val ranked = {
      val counts = base.groupBy("__y").agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("__y").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val r = counts.withColumn("__b", coalesce(sum(col("c")).over(w), lit(0L)))
        .select(col("__y"), (lit(2) * (col("__b") + 1) + col("c") - 1).as("ry"))
      withRx.join(broadcast(r), Seq("__y"))
    }
    val a = ranked.select(col("rx").cast(dec).as("rx"), col("ry").cast(dec).as("ry"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
        sum(col("rx") * col("ry")).as("sxy"),
        sum(col("rx") * col("rx")).as("sxx"),
        sum(col("ry") * col("ry")).as("syy"))
    a.select(col("n").cast("long").as("n"),
      ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
          (col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
        .as("spearman"))
  }

  /** Contingency deviation table between two categorical columns — the
    * per-cell χ² decomposition (observed O, expected E = row·col/N, the
    * cell's χ² contribution (O·N − row·col)²/(N·row·col)) that answers
    * "WHICH (source, label) cells are off", not just whether the whole
    * table is. The scalar χ² is deliberately NOT emitted: summing the
    * per-cell doubles is summation-order nondeterministic — sum the
    * (deterministic) cells downstream if the omnibus number is wanted.
    *
    * One pass to the K×L cell counts plus two marginal aggregates, all
    * bounded by category cardinality; each emitted value is one division
    * of exact decimal(38,0) products. */
  def contingencyCells(df: DataFrame, a: Column, b: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val pairs = df.select(a.as("cat_a"), b.as("cat_b"))
    val cells = pairs.groupBy("cat_a", "cat_b").agg(count(lit(1)).as("o"))
    val ra = pairs.groupBy("cat_a").agg(count(lit(1)).as("row_n"))
    val rb = pairs.groupBy("cat_b").agg(count(lit(1)).as("col_n"))
    val n = pairs.agg(count(lit(1)).cast(dec).as("__N"))
    val dev = col("o").cast(dec) * col("__N") -
      col("row_n").cast(dec) * col("col_n").cast(dec)
    cells.join(broadcast(ra), Seq("cat_a")).join(broadcast(rb), Seq("cat_b"))
      .crossJoin(broadcast(n))
      .select(col("cat_a"), col("cat_b"), col("o"), col("row_n"), col("col_n"),
        ((col("row_n").cast(dec) * col("col_n").cast(dec)).cast("double") /
          col("__N").cast("double")).as("expected"),
        ((dev * dev).cast("double") /
          (col("__N") * col("row_n").cast(dec) * col("col_n").cast(dec))
            .cast("double")).as("chisq_term"))
  }

  /** WindowDiff segmentation agreement (Pevzner & Hearst 2002) between a
    * reference and hypothesized boundary vector per document — the
    * standard eval for text-segmentation operators like
    * [[TextAnalysis.semanticBoundaries]]: slide a k-slot window over the
    * N−1 inter-token boundary slots and count windows where the two
    * segmentations place a DIFFERENT number of boundaries;
    * `wd = disagreements / (B − k + 1)`. Near-miss tolerant where raw
    * boundary F1 is not (a boundary off by one slot only perturbs k
    * windows). All counts integer, one division per document.
    *
    * Boundary vectors are `array<boolean>` of length N−1 (slot i =
    * boundary after token i). Scale: one posexplode to (doc, slot) rows,
    * one doc-keyed exchange, O(1) running frames — linear, no joins. */
  def windowDiff(df: DataFrame, id: Column, refB: Column, hypB: Column,
                 k: Int = 4): DataFrame = {
    require(k >= 1, "window must be positive")
    val slots = df
      .select(id.as("id"), posexplode(arrays_zip(refB.as("r"), hypB.as("h")))
        .as(Seq("pos", "__s")))
      .select(col("id"), col("pos"),
        col("__s.r").cast("long").as("r"), col("__s.h").cast("long").as("h"))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("pos").asc).rowsBetween(0, k - 1)
    val wb = org.apache.spark.sql.expressions.Window.partitionBy("id")
    // windows that fit fully: pos 0 .. B-k. Documents too short for ANY
    // full window (B < k) still surface — n_windows = 0, NULL window_diff
    // (undefined, not silently absent from a downstream corpus mean)
    val fits = col("pos") <= col("__slots") - k
    slots
      .withColumn("rs", sum(col("r")).over(wf))
      .withColumn("hs", sum(col("h")).over(wf))
      .withColumn("__slots", count(lit(1)).over(wb))
      .groupBy(col("id"))
      .agg(sum(fits.cast("long")).as("n_windows"),
        sum((fits && col("rs") =!= col("hs")).cast("long")).as("n_disagree"))
      .withColumn("window_diff",
        when(col("n_windows") > 0,
          col("n_disagree").cast("double") / col("n_windows").cast("double")))
  }

  /** Per-row robust scaling `(v − median) / IQR` within each group — the
    * outlier-insensitive feature normalization ([[madOutliers]]' cousin
    * for continuous scores): quartiles by the exact integer rank rule
    * (value at rank ⌈p·n⌉) over DISTINCT values per group, never a
    * row-level sort; the scale itself is a broadcast join back and one
    * scan-time division per row. Zero-IQR groups (over half the mass on
    * one value) emit NULL — not a division blow-up. */
  def robustScale(df: DataFrame, group: Column, valueCents: Column,
                  idCol: Column): DataFrame = {
    val counts = df.select(group.as("grp"), valueCents.cast("long").as("v"))
      .groupBy("grp", "v").agg(count(lit(1)).as("c"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("v").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wg = org.apache.spark.sql.expressions.Window.partitionBy("grp")
    val ranked = counts
      .withColumn("cr", sum(col("c")).over(wc))
      .withColumn("n", sum(col("c")).over(wg))
    // rank ⌈p·n⌉ with p = num/4 in exact integers
    def target(num: Int) = {
      val a = lit(num.toLong) * col("n")
      ((a - pmod(a, lit(4L))) / lit(4L)).cast("long") +
        when(pmod(a, lit(4L)) > 0, 1L).otherwise(0L)
    }
    val quart = ranked
      .groupBy("grp")
      .agg(min(when(col("cr") >= target(1), col("v"))).as("q1"),
        min(when(col("cr") >= target(2), col("v"))).as("median_cents"),
        min(when(col("cr") >= target(3), col("v"))).as("q3"))
      .withColumn("iqr_cents", col("q3") - col("q1"))
    df.select(group.as("grp"), idCol.as("id"), valueCents.cast("long").as("cents"))
      .join(broadcast(quart.select("grp", "median_cents", "iqr_cents")),
        Seq("grp"))
      .withColumn("robust_score",
        when(col("iqr_cents") === 0, lit(null).cast("double"))
          .otherwise((col("cents") - col("median_cents")).cast("double") /
            col("iqr_cents").cast("double")))
  }

  /** Two-proportion z statistic for an A/B split (pooled standard error)
    * — the experiment readout for "did the new filter change the accept
    * rate": `z = (p₁ − p₀) / √(p̂(1−p̂)(1/n₁ + 1/n₀))`. Emits the z
    * statistic, not a p-value — the normal CDF is a transcendental the
    * exact-reproducibility contract can't honor; |z| ≥ 1.96 is the usual
    * 5% line. Counts are exact longs, then divisions and one √, all IEEE
    * correctly-rounded with the operation structure mirrored in the
    * oracle — bit-identical. ONE partial-agged pass to a single row. */
  def abZTest(df: DataFrame, treatment: Column, success: Column): DataFrame = {
    val a = df.select(treatment.cast("boolean").as("__t"),
        success.cast("long").as("__s"))
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("n0"),
        sum(when(col("__t"), col("__s")).otherwise(0L)).as("x1"),
        sum(when(!col("__t"), col("__s")).otherwise(0L)).as("x0"))
    val n1 = col("n1").cast("double"); val n0 = col("n0").cast("double")
    val p1 = col("x1").cast("double") / n1
    val p0 = col("x0").cast("double") / n0
    val pp = (col("x1") + col("x0")).cast("double") /
      (col("n1") + col("n0")).cast("double")
    a.select(col("n1"), col("n0"), col("x1"), col("x0"),
      p1.as("p1"), p0.as("p0"),
      ((p1 - p0) / sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / n1 + lit(1.0) / n0)))
        .as("z"))
  }

  // ---- driver gate ----------------------------------------------------
  // Frozen pseudo-random weights (Knuth multiplicative constant): the gate
  // pins the featurize→linear-score path — the part that is deterministic
  // and SQL-mirrorable — against a DuckDB reimplementation of the same
  // fold. TRAINED weights are float-order nondeterministic, so training
  // correctness lives in QualitySpec's reference-equality test instead.
  private[ext] val GateDim = 64
  private[ext] val GateWeights: Array[Double] =
    Array.tabulate(GateDim)(i => (((i * 2654435761L + 101) % 2000001) - 1000000) / 1e6)

  val queries: Map[String, Q] = Map(
    "quality_score" -> ((s, dir) => {
      val wLit = array(GateWeights.map(lit).toSeq: _*)
      SparkEntry.table(s, dir, "documents")
        .withColumn("__f", featurize(col("text"), GateDim))
        .select(col("doc_id"), size(col("__f")).cast("long").as("n_features"),
          aggregate(col("__f"), lit(0.0),
            (acc, i) => acc + element_at(wLit, i + 1)).as("quality_logit"))
        .withColumn("keep", col("quality_logit") > 0)
    }),
    // DSIR gate: English plays the curated target, the whole corpus the
    // raw crawl; every document scored, top-100 selected
    "dsir_weights" -> ((s, dir) => {
      val docs = SparkEntry.table(s, dir, "documents")
      importanceWeights(docs, docs.where(col("lang") === "en"), docs)
    }),
    "dsir_select" -> ((s, dir) => {
      val docs = SparkEntry.table(s, dir, "documents")
      importanceResample(docs, docs.where(col("lang") === "en"), docs, k = 100)
    }),
    // frozen-weight logit as the score, lang='en' as the pseudo-label:
    // the reliability table and the exact AUC of the same scorer
    "calibration_table" -> ((s, dir) =>
      calibrationTable(gateScored(s, dir), col("logit"), col("lang") === "en")),
    "model_auc" -> ((s, dir) =>
      aucExact(gateScored(s, dir), col("logit"), col("lang") === "en")),
    // the same scorer's ranking quality per source slice
    "auc_sliced" -> ((s, dir) =>
      aucByGroup(gateScored(s, dir), col("source"), col("logit"),
        col("lang") === "en")),
    "pr_curve" -> ((s, dir) =>
      prCurve(gateScored(s, dir), col("logit"), col("lang") === "en")),
    // synthetic QA eval: gold = first 12 tokens, pred = a 2-token-shifted
    // 12-token window — deterministic partial overlap both engines derive
    // identically from the corpus
    "token_f1" -> ((s, dir) => {
      val w = split(col("text"), " ")
      tokenF1(SparkEntry.table(s, dir, "documents")
          .select(col("doc_id"),
            array_join(slice(w, 3, 12), " ").as("pred"),
            array_join(slice(w, 1, 12), " ").as("gold")),
        col("doc_id"), col("pred"), col("gold"))
    }),
    // synthetic summarization eval over the DUPLICATE-FREE token base
    // (first-occurrence order): cand = a 2-shifted 12-token window of
    // gold's region, so the true LCS equals the ordered-intersection count
    // both engines can also derive set-wise — the gate checks the real DP
    // against that closed form
    "rouge_l" -> ((s, dir) => {
      val base = array_distinct(filter(split(col("text"), " "), w => w =!= ""))
      rougeL(SparkEntry.table(s, dir, "documents")
          .select(col("doc_id"),
            slice(base, 3, 12).as("pred"), slice(base, 1, 12).as("gold")),
        col("doc_id"), col("pred"), col("gold"))
    }),
    // synthetic MT eval: candidate = full text, reference = the text
    // minus its last two words — candidate corpus is the longer side, so
    // bp = 1 exactly and every output column is rational + sqrt
    "bleu_corpus" -> ((s, dir) => {
      val w = split(col("text"), " ")
      bleuCorpus(SparkEntry.table(s, dir, "documents")
          .select(col("text").as("cand"),
            array_join(slice(w, lit(1), greatest(size(w) - 2, lit(1))), " ")
              .as("ref")),
        col("cand"), col("ref"))
    }),
    // the bleu_corpus pair construction, scored per document at the
    // character level
    "chrf_eval" -> ((s, dir) => {
      val w = split(col("text"), " ")
      chrF(SparkEntry.table(s, dir, "documents")
          .select(col("doc_id"), col("text").as("cand"),
            array_join(slice(w, lit(1), greatest(size(w) - 2, lit(1))), " ")
              .as("ref")),
        col("doc_id"), col("cand"), col("ref"))
    }),
    // the diversity workflow end-to-end: adjacent-id pairing per source
    "self_bleu" -> ((s, dir) =>
      selfBleu(SparkEntry.table(s, dir, "documents"), col("source"))),
    // the same pair construction scored per-sentence (unsmoothed BLEU-4)
    "sentence_bleu" -> ((s, dir) => {
      val w = split(col("text"), " ")
      sentenceBleu(SparkEntry.table(s, dir, "documents")
          .select(col("doc_id"), col("text").as("cand"),
            array_join(slice(w, lit(1), greatest(size(w) - 2, lit(1))), " ")
              .as("ref")),
        col("doc_id"), col("cand"), col("ref"))
    }),
    // the same pair construction scored by chrF++ (char + word grams)
    "chrf_pp" -> ((s, dir) => {
      val w = split(col("text"), " ")
      chrfPP(SparkEntry.table(s, dir, "documents")
          .select(col("doc_id"), col("text").as("cand"),
            array_join(slice(w, lit(1), greatest(size(w) - 2, lit(1))), " ")
              .as("ref")),
        col("doc_id"), col("cand"), col("ref"))
    }),
    // synthetic 10-bin "forecast" (doc_id decile), lang='en' the outcome:
    // the full reliability/resolution/uncertainty table
    "brier_decomp" -> ((s, dir) =>
      brierDecomposition(SparkEntry.table(s, dir, "documents"),
        col("doc_id") % 10, nBins = 10, col("lang") === "en")),
    // do document length and vocabulary size rank documents the same way
    "spearman_corr" -> ((s, dir) => {
      val d = SparkEntry.table(s, dir, "documents")
      spearmanCorr(d, col("n_chars"),
        size(array_distinct(split(col("text"), " "))))
    }),
    // which (lang, source) cells deviate from independence
    "chisq_cells" -> ((s, dir) =>
      contingencyCells(SparkEntry.table(s, dir, "documents"), col("lang"),
        col("source"))),
    // the monotone repair of the same binned forecast
    "isotonic_calibration" -> ((s, dir) =>
      isotonicCalibration(SparkEntry.table(s, dir, "documents"),
        col("doc_id") % 10, col("lang") === "en")),
    // 90%-coverage cutoff of event spend per type
    "conformal_threshold" -> ((s, dir) =>
      conformalThreshold(SparkEntry.table(s, dir, "events"),
        col("event_type"), round(col("value") * 100).cast("long"))),
    // reference = a boundary every 10 tokens; hypothesis = after any
    // long token (>= 8 chars) — both engines derive the vectors from the
    // corpus identically
    "windowdiff_eval" -> ((s, dir) => {
      // split materialized once: the hb lambda's element_at would
      // otherwise re-split per boundary slot
      val w = col("__w")
      val d = SparkEntry.table(s, dir, "documents")
        .withColumn("__w", split(col("text"), " "))
        .where(size(w) >= 2)
        .select(col("doc_id"),
          transform(sequence(lit(1), size(w) - 1), i => i % 10 === 0)
            .as("rb"),
          transform(sequence(lit(1), size(w) - 1),
            i => length(element_at(w, i)) >= 8).as("hb"))
      windowDiff(d, col("doc_id"), col("rb"), col("hb"), k = 4)
    }),
    // event spend robust-scaled within its type
    "robust_scale" -> ((s, dir) =>
      robustScale(SparkEntry.table(s, dir, "events"), col("event_type"),
        round(col("value") * 100).cast("long"), col("event_id"))),
    // odd users the treatment arm, value > 50 the success metric
    "ab_ztest" -> ((s, dir) =>
      abZTest(SparkEntry.table(s, dir, "events"),
        col("user_id") % 2 === 1, col("value") > 50.0)),
    // annotator A = lang; annotator B lazily marks every 7th doc 'en' —
    // deterministic partial agreement both engines derive from the corpus
    "kappa_agreement" -> ((s, dir) =>
      cohenKappa(SparkEntry.table(s, dir, "documents"), col("lang"),
        when(col("doc_id") % 7 === 0, lit("en")).otherwise(col("lang")))),
    // three incommensurable integer signals decile-ranked and summed
    "quality_ensemble" -> ((s, dir) =>
      qualityEnsemble(SparkEntry.table(s, dir, "documents"), Seq(
        "len" -> size(split(col("text"), " ")),
        "vocab" -> size(array_distinct(split(col("text"), " "))),
        "chars" -> col("n_chars")))),
    "drift_quantile" -> ((s, dir) => {
      val docs = SparkEntry.table(s, dir, "documents")
      driftReportQuantile(docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), col("n_chars"))
    }),
    // exact ventile boundaries of document length
    "exact_quantiles" -> ((s, dir) =>
      exactQuantiles(SparkEntry.table(s, dir, "documents"), col("n_chars"), k = 20)),
    // document length normalized to within-source deciles
    "decile_by_source" -> ((s, dir) =>
      decileBySlice(SparkEntry.table(s, dir, "documents"), col("source"),
        col("n_chars"))),
    // MAD-flagged length outliers (c = 3)
    "mad_outliers" -> ((s, dir) =>
      madOutliers(SparkEntry.table(s, dir, "documents"), col("n_chars"))),
    // document length clamped to the [5%, 95%] ventile boundaries
    "winsorize" -> ((s, dir) =>
      winsorize(SparkEntry.table(s, dir, "documents").select("doc_id", "n_chars"),
        col("n_chars"), "n_chars_w")),
    // the maintained histogram after two absorptions must yield the
    // identical decile boundaries as the one-shot rank rule
    "quantiles_maintained" -> ((s, dir) => {
      val docs = SparkEntry.table(s, dir, "documents")
      val root = TmpIo.freshDir("qstate")
      try {
        absorbQuantileBatch(s, root.toString, 0L,
          docs.where(col("doc_id") % 2 === 0), col("n_chars"))
        absorbQuantileBatch(s, root.toString, 1L,
          docs.where(col("doc_id") % 2 === 1), col("n_chars"))
          .localCheckpoint(true)
      } finally TmpIo.deleteRecursively(root)
    }),
    // even doc_ids play the accepted reference, odd the incoming
    // candidate; n_chars is the monitored feature
    "drift_report" -> ((s, dir) => {
      val docs = SparkEntry.table(s, dir, "documents")
      driftReport(docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), col("n_chars"))
    }),
  )

  private def wLitSql: String = GateWeights.mkString("[", ", ", "]")

  /** The gate's frozen-weight scorer: (doc_id, lang, logit) — the exact
    * ascending-feature fold the quality_score gate pins bit-exact. */
  private def gateScored(s: SparkSession, dir: String): DataFrame = {
    val wLit = array(GateWeights.map(lit).toSeq: _*)
    SparkEntry.table(s, dir, "documents")
      .withColumn("__f", featurize(col("text"), GateDim))
      .select(col("doc_id"), col("lang"), col("source"),
        aggregate(col("__f"), lit(0.0),
          (acc, i) => acc + element_at(wLit, i + 1)).as("logit"))
  }

  /** The same scorer in SQL — the quality_score oracle's fold, reused by
    * the calibration and AUC oracles. */
  private def gateScoredSql: String =
    s"""sc AS (
       |  SELECT doc_id, lang, source,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(
       |        list_sort(list_distinct(list_transform(
       |          list_filter(string_split(text, ' '), x -> len(x) > 0),
       |          wd -> CAST(list_reduce(list_prepend(CAST(7 AS BIGINT),
       |                  list_transform(string_split_regex(wd, ''),
       |                    c -> CAST(unicode(c) AS BIGINT))),
       |                (a, b) -> (a * 31 + b) % ${HashMod}) % ${GateDim} AS INT)))),
       |        i -> wv[i + 1])), (a, b) -> a + b) AS logit
       |  FROM documents, w)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // identical integer fold (prepend seeds list_reduce, which has no init
    // arg) + identical ascending-order double fold over the same literal
    // weight vector — bit-exact, no tolerance needed
    "quality_score" ->
      s"""WITH w AS (SELECT $wLitSql AS wv),
        |f AS (SELECT doc_id,
        |        list_sort(list_distinct(list_transform(
        |          list_filter(string_split(text, ' '), x -> len(x) > 0),
        |          wd -> CAST(list_reduce(list_prepend(CAST(7 AS BIGINT),
        |                  list_transform(string_split_regex(wd, ''),
        |                    c -> CAST(unicode(c) AS BIGINT))),
        |                (a, b) -> (a * 31 + b) % ${HashMod}) % ${GateDim} AS INT))))
        |          AS fv
        |      FROM documents)
        |SELECT doc_id, n_features, quality_logit, quality_logit > 0 AS keep
        |FROM (SELECT doc_id, len(fv) AS n_features,
        |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |          list_transform(fv, i -> wv[i + 1])), (a, b) -> a + b)
        |          AS quality_logit
        |      FROM f, w) s""".stripMargin,

    // exact mirror of importanceWeights' arithmetic: the lm_score oracle's
    // rational form, once per lexicon, ratio as the same final division
    "dsir_weights" -> DsirOracleBody,
    "dsir_select" ->
      s"""$DsirOracleBody
         |ORDER BY weight DESC, doc_id LIMIT 100""".stripMargin,

    // same slice-derived pred/gold, same multiset-min overlap fold, same
    // single-division metrics — bit-identical rational arithmetic
    "token_f1" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |pg AS (SELECT doc_id,
        |         array_to_string(w[3:14], ' ') AS ps,
        |         array_to_string(w[1:12], ' ') AS gs
        |       FROM t),
        |tk AS (SELECT doc_id, ps, gs,
        |         list_filter(string_split(ps, ' '), x -> len(x) > 0) AS p,
        |         list_filter(string_split(gs, ' '), x -> len(x) > 0) AS g
        |       FROM pg),
        |m AS (SELECT doc_id, ps, gs, p, g,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(list_distinct(p),
        |            t2 -> CAST(least(len(list_filter(p, x -> x = t2)),
        |                             len(list_filter(g, x -> x = t2))) AS BIGINT))),
        |          (a, b) -> a + b) AS ov
        |      FROM tk)
        |SELECT doc_id AS id, ov AS overlap,
        |  CAST(len(p) AS BIGINT) AS len_pred, CAST(len(g) AS BIGINT) AS len_gold,
        |  CASE WHEN len(p) = 0 THEN 0.0
        |       ELSE CAST(ov AS DOUBLE) / CAST(len(p) AS DOUBLE) END AS "precision",
        |  CASE WHEN len(g) = 0 THEN 0.0
        |       ELSE CAST(ov AS DOUBLE) / CAST(len(g) AS DOUBLE) END AS recall,
        |  CASE WHEN len(p) + len(g) = 0 THEN 0.0
        |       ELSE CAST(2 * ov AS DOUBLE) /
        |            CAST(len(p) + len(g) AS DOUBLE) END AS f1,
        |  CAST(ps = gs AS BIGINT) AS exact
        |FROM m""".stripMargin,

    // same gram lists (chr(1)-joined), same clipped multiset-min fold,
    // corpus-pooled integer sums, same single divisions + sqrt∘sqrt
    "bleu_corpus" -> BleuOracle,

    // same integer products in HUGEINT, same single divisions per term
    "brier_decomp" ->
      """WITH d AS (SELECT doc_id % 10 AS bin,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS o FROM documents),
        |t AS (SELECT CAST(count(*) AS HUGEINT) AS nn,
        |    CAST(sum(o) AS HUGEINT) AS pos FROM d),
        |b AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(o) AS BIGINT) AS n_pos FROM d GROUP BY 1)
        |SELECT bin, n, n_pos,
        |  CAST(2 * bin + 1 AS DOUBLE) / 20.0 AS p_hat,
        |  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS o_bar,
        |  CAST(((2 * CAST(bin AS HUGEINT) + 1) * n - 20 * CAST(n_pos AS HUGEINT))
        |     * ((2 * CAST(bin AS HUGEINT) + 1) * n - 20 * CAST(n_pos AS HUGEINT))
        |    AS DOUBLE) / CAST(400 * CAST(n AS HUGEINT) AS DOUBLE) AS rel_term,
        |  CAST((CAST(n_pos AS HUGEINT) * nn - CAST(n AS HUGEINT) * pos)
        |     * (CAST(n_pos AS HUGEINT) * nn - CAST(n AS HUGEINT) * pos)
        |    AS DOUBLE) / CAST(CAST(n AS HUGEINT) * nn * nn AS DOUBLE) AS res_term,
        |  CAST(pos * (nn - pos) AS DOUBLE) / CAST(nn * nn AS DOUBLE)
        |    AS uncertainty
        |FROM b, t""".stripMargin,

    // same doubled average ranks from distinct-value cumulative counts,
    // same five HUGEINT sums, one division over one sqrt
    "spearman_corr" ->
      """WITH base AS (SELECT n_chars AS x,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS y
        |  FROM documents),
        |cx AS (SELECT x, count(*) AS c FROM base GROUP BY 1),
        |rx AS (SELECT x,
        |    2 * (COALESCE(sum(c) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1)
        |      + c - 1 AS rx
        |  FROM cx),
        |cy AS (SELECT y, count(*) AS c FROM base GROUP BY 1),
        |ry AS (SELECT y,
        |    2 * (COALESCE(sum(c) OVER (ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1)
        |      + c - 1 AS ry
        |  FROM cy),
        |j AS (SELECT CAST(rx AS HUGEINT) AS rx, CAST(ry AS HUGEINT) AS ry
        |  FROM base JOIN rx USING (x) JOIN ry USING (y)),
        |a AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(rx) AS sx,
        |    sum(ry) AS sy, sum(rx * ry) AS sxy, sum(rx * rx) AS sxx,
        |    sum(ry * ry) AS syy
        |  FROM j)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(n * sxy - sx * sy AS DOUBLE) /
        |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |         CAST(n * syy - sy * sy AS DOUBLE)) AS spearman
        |FROM a""".stripMargin,

    // same HUGEINT marginal products, one division per emitted value
    "chisq_cells" ->
      """WITH p AS (SELECT lang AS cat_a, source AS cat_b FROM documents),
        |cells AS (SELECT cat_a, cat_b, count(*) AS o FROM p GROUP BY 1, 2),
        |ra AS (SELECT cat_a, count(*) AS row_n FROM p GROUP BY 1),
        |rb AS (SELECT cat_b, count(*) AS col_n FROM p GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS HUGEINT) AS nn FROM p)
        |SELECT cat_a, cat_b, o, row_n, col_n,
        |  CAST(CAST(row_n AS HUGEINT) * col_n AS DOUBLE) / CAST(nn AS DOUBLE)
        |    AS expected,
        |  CAST((CAST(o AS HUGEINT) * nn - CAST(row_n AS HUGEINT) * col_n)
        |     * (CAST(o AS HUGEINT) * nn - CAST(row_n AS HUGEINT) * col_n)
        |    AS DOUBLE) /
        |    CAST(nn * row_n * col_n AS DOUBLE) AS chisq_term
        |FROM cells JOIN ra USING (cat_a) JOIN rb USING (cat_b), t""".stripMargin,

    // same minimax intervals over the same integer prefix sums
    "isotonic_calibration" ->
      """WITH d AS (SELECT doc_id % 10 AS bin,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS o FROM documents),
        |b AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(o) AS BIGINT) AS n_pos FROM d GROUP BY 1),
        |c AS (SELECT bin, n, n_pos,
        |    CAST(sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS cn,
        |    CAST(sum(n_pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cp
        |  FROM b),
        |iv AS (SELECT l.bin AS i, h.bin AS j,
        |    CAST(h.cp - (l.cp - l.n_pos) AS DOUBLE) /
        |      CAST(h.cn - (l.cn - l.n) AS DOUBLE) AS frac
        |  FROM c l JOIN c h ON l.bin <= h.bin),
        |pk AS (SELECT k.k AS k, i, min(frac) AS mn
        |  FROM iv, LATERAL unnest(range(i, j + 1)) AS k(k)
        |  GROUP BY 1, 2),
        |iso AS (SELECT k, max(mn) AS iso_rate FROM pk GROUP BY 1)
        |SELECT bin, n, n_pos,
        |  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS raw_rate, iso_rate
        |FROM b JOIN iso ON iso.k = b.bin""".stripMargin,

    // same per-(group, value) counts, same exact ceil rank
    "conformal_threshold" ->
      """WITH v AS (SELECT event_type AS grp,
        |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
        |c AS (SELECT grp, v, count(*) AS c FROM v GROUP BY 1, 2),
        |r AS (SELECT grp, v,
        |    CAST(sum(c) OVER (PARTITION BY grp ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cr,
        |    CAST(sum(c) OVER (PARTITION BY grp) AS BIGINT) AS n
        |  FROM c),
        |k AS (SELECT grp, v, cr, n,
        |    (9 * (n + 1)) // 10 +
        |      CASE WHEN (9 * (n + 1)) % 10 > 0 THEN 1 ELSE 0 END AS rank
        |  FROM r)
        |SELECT grp, n, CAST(rank AS BIGINT) AS rank,
        |  min(CASE WHEN cr >= rank THEN v END) AS threshold_cents
        |FROM k GROUP BY 1, 2, 3""".stripMargin,

    // same whitespace-stripped char n-grams (the sacrebleu default;
    // substring by CHARACTER in both engines), same exact per-order
    // integer pivots, same fixed-order double chain; β = 2
    "chrf_eval" ->
      """WITH t0 AS (SELECT doc_id, text AS cand0,
        |    array_to_string(list_slice(string_split(text, ' '), 1,
        |      greatest(len(string_split(text, ' ')) - 2, 1)), ' ') AS ref0
        |  FROM documents),
        |t AS (SELECT doc_id,
        |    regexp_replace(cand0, '[ \t\r\n\f]+', '', 'g') AS cand,
        |    regexp_replace(ref0, '[ \t\r\n\f]+', '', 'g') AS ref
        |  FROM t0),
        |ns AS (SELECT unnest(range(1, 7)) AS n),
        |cg AS (SELECT doc_id, n, g, count(*) AS cc FROM (
        |    SELECT t.doc_id, ns.n, t.cand[i.i:i.i + ns.n - 1] AS g
        |    FROM t, ns, LATERAL unnest(range(1, length(t.cand) - ns.n + 2)) AS i(i))
        |  GROUP BY 1, 2, 3),
        |rg AS (SELECT doc_id, n, g, count(*) AS rc FROM (
        |    SELECT t.doc_id, ns.n, t.ref[i.i:i.i + ns.n - 1] AS g
        |    FROM t, ns, LATERAL unnest(range(1, length(t.ref) - ns.n + 2)) AS i(i))
        |  GROUP BY 1, 2, 3),
        |st AS (SELECT coalesce(cg.doc_id, rg.doc_id) AS doc_id,
        |    coalesce(cg.n, rg.n) AS n,
        |    least(coalesce(cc, 0), coalesce(rc, 0)) AS mm, cc, rc
        |  FROM cg FULL OUTER JOIN rg
        |    ON cg.doc_id = rg.doc_id AND cg.n = rg.n AND cg.g = rg.g),
        |pern AS (SELECT doc_id, n, CAST(sum(mm) AS BIGINT) AS m,
        |    CAST(coalesce(sum(cc), 0) AS BIGINT) AS ct,
        |    CAST(coalesce(sum(rc), 0) AS BIGINT) AS rt
        |  FROM st GROUP BY 1, 2),
        |wide AS (SELECT doc_id,
        |    CAST(coalesce(sum(CASE WHEN n = 1 THEN m END), 0) AS BIGINT) AS m1, CAST(coalesce(sum(CASE WHEN n = 1 THEN ct END), 0) AS BIGINT) AS ct1, CAST(coalesce(sum(CASE WHEN n = 1 THEN rt END), 0) AS BIGINT) AS rt1,
        |    CAST(coalesce(sum(CASE WHEN n = 2 THEN m END), 0) AS BIGINT) AS m2, CAST(coalesce(sum(CASE WHEN n = 2 THEN ct END), 0) AS BIGINT) AS ct2, CAST(coalesce(sum(CASE WHEN n = 2 THEN rt END), 0) AS BIGINT) AS rt2,
        |    CAST(coalesce(sum(CASE WHEN n = 3 THEN m END), 0) AS BIGINT) AS m3, CAST(coalesce(sum(CASE WHEN n = 3 THEN ct END), 0) AS BIGINT) AS ct3, CAST(coalesce(sum(CASE WHEN n = 3 THEN rt END), 0) AS BIGINT) AS rt3,
        |    CAST(coalesce(sum(CASE WHEN n = 4 THEN m END), 0) AS BIGINT) AS m4, CAST(coalesce(sum(CASE WHEN n = 4 THEN ct END), 0) AS BIGINT) AS ct4, CAST(coalesce(sum(CASE WHEN n = 4 THEN rt END), 0) AS BIGINT) AS rt4,
        |    CAST(coalesce(sum(CASE WHEN n = 5 THEN m END), 0) AS BIGINT) AS m5, CAST(coalesce(sum(CASE WHEN n = 5 THEN ct END), 0) AS BIGINT) AS ct5, CAST(coalesce(sum(CASE WHEN n = 5 THEN rt END), 0) AS BIGINT) AS rt5,
        |    CAST(coalesce(sum(CASE WHEN n = 6 THEN m END), 0) AS BIGINT) AS m6, CAST(coalesce(sum(CASE WHEN n = 6 THEN ct END), 0) AS BIGINT) AS ct6, CAST(coalesce(sum(CASE WHEN n = 6 THEN rt END), 0) AS BIGINT) AS rt6
        |  FROM pern GROUP BY doc_id),
        |f AS (SELECT doc_id AS id,
        |    ((CASE WHEN ct1 > 0 THEN CAST(m1 AS DOUBLE) / CAST(ct1 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN ct2 > 0 THEN CAST(m2 AS DOUBLE) / CAST(ct2 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN ct3 > 0 THEN CAST(m3 AS DOUBLE) / CAST(ct3 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN ct4 > 0 THEN CAST(m4 AS DOUBLE) / CAST(ct4 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN ct5 > 0 THEN CAST(m5 AS DOUBLE) / CAST(ct5 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN ct6 > 0 THEN CAST(m6 AS DOUBLE) / CAST(ct6 AS DOUBLE) ELSE 0.0 END)) / 6.0 AS chr_p,
        |    ((CASE WHEN rt1 > 0 THEN CAST(m1 AS DOUBLE) / CAST(rt1 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN rt2 > 0 THEN CAST(m2 AS DOUBLE) / CAST(rt2 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN rt3 > 0 THEN CAST(m3 AS DOUBLE) / CAST(rt3 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN rt4 > 0 THEN CAST(m4 AS DOUBLE) / CAST(rt4 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN rt5 > 0 THEN CAST(m5 AS DOUBLE) / CAST(rt5 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN rt6 > 0 THEN CAST(m6 AS DOUBLE) / CAST(rt6 AS DOUBLE) ELSE 0.0 END)) / 6.0 AS chr_r
        |  FROM wide)
        |SELECT id, chr_p, chr_r,
        |  CASE WHEN 4.0 * chr_p + chr_r = 0.0 THEN 0.0
        |       ELSE 5.0 * chr_p * chr_r / (4.0 * chr_p + chr_r) END AS chrf
        |FROM f""".stripMargin,

    // the sentence_bleu machinery over lead()-paired neighbors per source,
    // then the ordered-fold per-group mean (never an unordered float SUM)
    "self_bleu" ->
      """WITH t0 AS (SELECT doc_id, source, text AS cand0,
        |    lead(text) OVER (PARTITION BY source ORDER BY doc_id) AS ref0
        |  FROM documents),
        |wt AS (SELECT doc_id, source,
        |    list_filter(string_split(cand0, ' '), x -> x <> '') AS wc,
        |    list_filter(string_split(ref0, ' '), x -> x <> '') AS wr
        |  FROM t0 WHERE ref0 IS NOT NULL),
        |wns AS (SELECT unnest(range(1, 5)) AS n),
        |wcg AS (SELECT doc_id, n, g, count(*) AS cc FROM (
        |    SELECT wt.doc_id, wns.n,
        |      array_to_string(list_slice(wt.wc, i.i, i.i + wns.n - 1), ' ') AS g
        |    FROM wt, wns, LATERAL unnest(range(1, len(wt.wc) - wns.n + 2)) AS i(i))
        |  GROUP BY 1, 2, 3),
        |wrg AS (SELECT doc_id, n, g, count(*) AS rc FROM (
        |    SELECT wt.doc_id, wns.n,
        |      array_to_string(list_slice(wt.wr, i.i, i.i + wns.n - 1), ' ') AS g
        |    FROM wt, wns, LATERAL unnest(range(1, len(wt.wr) - wns.n + 2)) AS i(i))
        |  GROUP BY 1, 2, 3),
        |wst AS (SELECT coalesce(wcg.doc_id, wrg.doc_id) AS doc_id,
        |    coalesce(wcg.n, wrg.n) AS n,
        |    least(coalesce(cc, 0), coalesce(rc, 0)) AS mm, cc
        |  FROM wcg FULL OUTER JOIN wrg
        |    ON wcg.doc_id = wrg.doc_id AND wcg.n = wrg.n AND wcg.g = wrg.g),
        |wpern AS (SELECT doc_id, n, CAST(sum(mm) AS BIGINT) AS m,
        |    CAST(coalesce(sum(cc), 0) AS BIGINT) AS ct
        |  FROM wst GROUP BY 1, 2),
        |wwide AS (SELECT doc_id,
        |    CAST(coalesce(sum(CASE WHEN n = 1 THEN m END), 0) AS BIGINT) AS m1, CAST(coalesce(sum(CASE WHEN n = 1 THEN ct END), 0) AS BIGINT) AS ct1,
        |    CAST(coalesce(sum(CASE WHEN n = 2 THEN m END), 0) AS BIGINT) AS m2, CAST(coalesce(sum(CASE WHEN n = 2 THEN ct END), 0) AS BIGINT) AS ct2,
        |    CAST(coalesce(sum(CASE WHEN n = 3 THEN m END), 0) AS BIGINT) AS m3, CAST(coalesce(sum(CASE WHEN n = 3 THEN ct END), 0) AS BIGINT) AS ct3,
        |    CAST(coalesce(sum(CASE WHEN n = 4 THEN m END), 0) AS BIGINT) AS m4, CAST(coalesce(sum(CASE WHEN n = 4 THEN ct END), 0) AS BIGINT) AS ct4
        |  FROM wpern GROUP BY doc_id),
        |l AS (SELECT doc_id, source, CAST(len(wc) AS BIGINT) AS c_len,
        |    CAST(len(wr) AS BIGINT) AS r_len FROM wt),
        |f AS (SELECT l.doc_id, l.source,
        |    CASE WHEN c_len = 0 THEN 0.0
        |         WHEN c_len >= r_len THEN 1.0
        |         ELSE exp(1.0 - CAST(r_len AS DOUBLE) / CAST(c_len AS DOUBLE)) END AS bp,
        |    (CASE WHEN coalesce(ct1, 0) > 0 THEN CAST(coalesce(m1, 0) AS DOUBLE) / CAST(ct1 AS DOUBLE) ELSE 0.0 END) AS p1,
        |    (CASE WHEN coalesce(ct2, 0) > 0 THEN CAST(coalesce(m2, 0) AS DOUBLE) / CAST(ct2 AS DOUBLE) ELSE 0.0 END) AS p2,
        |    (CASE WHEN coalesce(ct3, 0) > 0 THEN CAST(coalesce(m3, 0) AS DOUBLE) / CAST(ct3 AS DOUBLE) ELSE 0.0 END) AS p3,
        |    (CASE WHEN coalesce(ct4, 0) > 0 THEN CAST(coalesce(m4, 0) AS DOUBLE) / CAST(ct4 AS DOUBLE) ELSE 0.0 END) AS p4
        |  FROM l LEFT JOIN wwide w ON w.doc_id = l.doc_id),
        |b AS (SELECT source, doc_id,
        |    bp * sqrt(sqrt(p1 * p2 * p3 * p4)) AS bleu FROM f)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(bleu ORDER BY doc_id)),
        |    (a, b) -> a + b) / count(*) AS mean_bleu
        |FROM b GROUP BY source""".stripMargin,

    // per-doc word 1-4-gram clipped precisions, the exp brevity penalty,
    // and the sqrt(sqrt()) geometric mean — the bleuCorpus machinery at
    // sentence granularity
    "sentence_bleu" ->
      """WITH t0 AS (SELECT doc_id, text AS cand0,
        |    array_to_string(list_slice(string_split(text, ' '), 1,
        |      greatest(len(string_split(text, ' ')) - 2, 1)), ' ') AS ref0
        |  FROM documents),
        |wt AS (SELECT doc_id,
        |    list_filter(string_split(cand0, ' '), x -> x <> '') AS wc,
        |    list_filter(string_split(ref0, ' '), x -> x <> '') AS wr
        |  FROM t0),
        |wns AS (SELECT unnest(range(1, 5)) AS n),
        |wcg AS (SELECT doc_id, n, g, count(*) AS cc FROM (
        |    SELECT wt.doc_id, wns.n,
        |      array_to_string(list_slice(wt.wc, i.i, i.i + wns.n - 1), ' ') AS g
        |    FROM wt, wns, LATERAL unnest(range(1, len(wt.wc) - wns.n + 2)) AS i(i))
        |  GROUP BY 1, 2, 3),
        |wrg AS (SELECT doc_id, n, g, count(*) AS rc FROM (
        |    SELECT wt.doc_id, wns.n,
        |      array_to_string(list_slice(wt.wr, i.i, i.i + wns.n - 1), ' ') AS g
        |    FROM wt, wns, LATERAL unnest(range(1, len(wt.wr) - wns.n + 2)) AS i(i))
        |  GROUP BY 1, 2, 3),
        |wst AS (SELECT coalesce(wcg.doc_id, wrg.doc_id) AS doc_id,
        |    coalesce(wcg.n, wrg.n) AS n,
        |    least(coalesce(cc, 0), coalesce(rc, 0)) AS mm, cc
        |  FROM wcg FULL OUTER JOIN wrg
        |    ON wcg.doc_id = wrg.doc_id AND wcg.n = wrg.n AND wcg.g = wrg.g),
        |wpern AS (SELECT doc_id, n, CAST(sum(mm) AS BIGINT) AS m,
        |    CAST(coalesce(sum(cc), 0) AS BIGINT) AS ct
        |  FROM wst GROUP BY 1, 2),
        |wwide AS (SELECT doc_id,
        |    CAST(coalesce(sum(CASE WHEN n = 1 THEN m END), 0) AS BIGINT) AS m1, CAST(coalesce(sum(CASE WHEN n = 1 THEN ct END), 0) AS BIGINT) AS ct1,
        |    CAST(coalesce(sum(CASE WHEN n = 2 THEN m END), 0) AS BIGINT) AS m2, CAST(coalesce(sum(CASE WHEN n = 2 THEN ct END), 0) AS BIGINT) AS ct2,
        |    CAST(coalesce(sum(CASE WHEN n = 3 THEN m END), 0) AS BIGINT) AS m3, CAST(coalesce(sum(CASE WHEN n = 3 THEN ct END), 0) AS BIGINT) AS ct3,
        |    CAST(coalesce(sum(CASE WHEN n = 4 THEN m END), 0) AS BIGINT) AS m4, CAST(coalesce(sum(CASE WHEN n = 4 THEN ct END), 0) AS BIGINT) AS ct4
        |  FROM wpern GROUP BY doc_id),
        |l AS (SELECT doc_id, CAST(len(wc) AS BIGINT) AS c_len,
        |    CAST(len(wr) AS BIGINT) AS r_len FROM wt),
        |f AS (SELECT l.doc_id AS id, c_len, r_len,
        |    CASE WHEN c_len = 0 THEN 0.0
        |         WHEN c_len >= r_len THEN 1.0
        |         ELSE exp(1.0 - CAST(r_len AS DOUBLE) / CAST(c_len AS DOUBLE)) END AS bp,
        |    (CASE WHEN coalesce(ct1, 0) > 0 THEN CAST(coalesce(m1, 0) AS DOUBLE) / CAST(ct1 AS DOUBLE) ELSE 0.0 END) AS p1,
        |    (CASE WHEN coalesce(ct2, 0) > 0 THEN CAST(coalesce(m2, 0) AS DOUBLE) / CAST(ct2 AS DOUBLE) ELSE 0.0 END) AS p2,
        |    (CASE WHEN coalesce(ct3, 0) > 0 THEN CAST(coalesce(m3, 0) AS DOUBLE) / CAST(ct3 AS DOUBLE) ELSE 0.0 END) AS p3,
        |    (CASE WHEN coalesce(ct4, 0) > 0 THEN CAST(coalesce(m4, 0) AS DOUBLE) / CAST(ct4 AS DOUBLE) ELSE 0.0 END) AS p4
        |  FROM l LEFT JOIN wwide w ON w.doc_id = l.doc_id)
        |SELECT id, c_len, r_len, bp, bp * sqrt(sqrt(p1 * p2 * p3 * p4)) AS bleu
        |FROM f""".stripMargin,

    // chrF++: the chrf_eval char pipeline + word 1-2-gram CTEs; the IEEE
    // chain is char orders 1..6 then word orders 1..2, one division by 8
    "chrf_pp" ->
      """WITH t0 AS (SELECT doc_id, text AS cand0,
        |    array_to_string(list_slice(string_split(text, ' '), 1,
        |      greatest(len(string_split(text, ' ')) - 2, 1)), ' ') AS ref0
        |  FROM documents),
        |t AS (SELECT doc_id,
        |    regexp_replace(cand0, '[ \t\r\n\f]+', '', 'g') AS cand,
        |    regexp_replace(ref0, '[ \t\r\n\f]+', '', 'g') AS ref
        |  FROM t0),
        |wt AS (SELECT doc_id,
        |    list_filter(string_split(cand0, ' '), x -> x <> '') AS wc,
        |    list_filter(string_split(ref0, ' '), x -> x <> '') AS wr
        |  FROM t0),
        |ns AS (SELECT unnest(range(1, 7)) AS n),
        |wns AS (SELECT unnest(range(1, 3)) AS n),
        |cg AS (SELECT doc_id, n, g, count(*) AS cc FROM (
        |    SELECT t.doc_id, ns.n, t.cand[i.i:i.i + ns.n - 1] AS g
        |    FROM t, ns, LATERAL unnest(range(1, length(t.cand) - ns.n + 2)) AS i(i))
        |  GROUP BY 1, 2, 3),
        |rg AS (SELECT doc_id, n, g, count(*) AS rc FROM (
        |    SELECT t.doc_id, ns.n, t.ref[i.i:i.i + ns.n - 1] AS g
        |    FROM t, ns, LATERAL unnest(range(1, length(t.ref) - ns.n + 2)) AS i(i))
        |  GROUP BY 1, 2, 3),
        |st AS (SELECT coalesce(cg.doc_id, rg.doc_id) AS doc_id,
        |    coalesce(cg.n, rg.n) AS n,
        |    least(coalesce(cc, 0), coalesce(rc, 0)) AS mm, cc, rc
        |  FROM cg FULL OUTER JOIN rg
        |    ON cg.doc_id = rg.doc_id AND cg.n = rg.n AND cg.g = rg.g),
        |pern AS (SELECT doc_id, n, CAST(sum(mm) AS BIGINT) AS m,
        |    CAST(coalesce(sum(cc), 0) AS BIGINT) AS ct,
        |    CAST(coalesce(sum(rc), 0) AS BIGINT) AS rt
        |  FROM st GROUP BY 1, 2),
        |wide AS (SELECT doc_id,
        |    CAST(coalesce(sum(CASE WHEN n = 1 THEN m END), 0) AS BIGINT) AS m1, CAST(coalesce(sum(CASE WHEN n = 1 THEN ct END), 0) AS BIGINT) AS ct1, CAST(coalesce(sum(CASE WHEN n = 1 THEN rt END), 0) AS BIGINT) AS rt1,
        |    CAST(coalesce(sum(CASE WHEN n = 2 THEN m END), 0) AS BIGINT) AS m2, CAST(coalesce(sum(CASE WHEN n = 2 THEN ct END), 0) AS BIGINT) AS ct2, CAST(coalesce(sum(CASE WHEN n = 2 THEN rt END), 0) AS BIGINT) AS rt2,
        |    CAST(coalesce(sum(CASE WHEN n = 3 THEN m END), 0) AS BIGINT) AS m3, CAST(coalesce(sum(CASE WHEN n = 3 THEN ct END), 0) AS BIGINT) AS ct3, CAST(coalesce(sum(CASE WHEN n = 3 THEN rt END), 0) AS BIGINT) AS rt3,
        |    CAST(coalesce(sum(CASE WHEN n = 4 THEN m END), 0) AS BIGINT) AS m4, CAST(coalesce(sum(CASE WHEN n = 4 THEN ct END), 0) AS BIGINT) AS ct4, CAST(coalesce(sum(CASE WHEN n = 4 THEN rt END), 0) AS BIGINT) AS rt4,
        |    CAST(coalesce(sum(CASE WHEN n = 5 THEN m END), 0) AS BIGINT) AS m5, CAST(coalesce(sum(CASE WHEN n = 5 THEN ct END), 0) AS BIGINT) AS ct5, CAST(coalesce(sum(CASE WHEN n = 5 THEN rt END), 0) AS BIGINT) AS rt5,
        |    CAST(coalesce(sum(CASE WHEN n = 6 THEN m END), 0) AS BIGINT) AS m6, CAST(coalesce(sum(CASE WHEN n = 6 THEN ct END), 0) AS BIGINT) AS ct6, CAST(coalesce(sum(CASE WHEN n = 6 THEN rt END), 0) AS BIGINT) AS rt6
        |  FROM pern GROUP BY doc_id),
        |wcg AS (SELECT doc_id, n, g, count(*) AS cc FROM (
        |    SELECT wt.doc_id, wns.n,
        |      array_to_string(list_slice(wt.wc, i.i, i.i + wns.n - 1), ' ') AS g
        |    FROM wt, wns, LATERAL unnest(range(1, len(wt.wc) - wns.n + 2)) AS i(i))
        |  GROUP BY 1, 2, 3),
        |wrg AS (SELECT doc_id, n, g, count(*) AS rc FROM (
        |    SELECT wt.doc_id, wns.n,
        |      array_to_string(list_slice(wt.wr, i.i, i.i + wns.n - 1), ' ') AS g
        |    FROM wt, wns, LATERAL unnest(range(1, len(wt.wr) - wns.n + 2)) AS i(i))
        |  GROUP BY 1, 2, 3),
        |wst AS (SELECT coalesce(wcg.doc_id, wrg.doc_id) AS doc_id,
        |    coalesce(wcg.n, wrg.n) AS n,
        |    least(coalesce(cc, 0), coalesce(rc, 0)) AS mm, cc, rc
        |  FROM wcg FULL OUTER JOIN wrg
        |    ON wcg.doc_id = wrg.doc_id AND wcg.n = wrg.n AND wcg.g = wrg.g),
        |wpern AS (SELECT doc_id, n, CAST(sum(mm) AS BIGINT) AS m,
        |    CAST(coalesce(sum(cc), 0) AS BIGINT) AS ct,
        |    CAST(coalesce(sum(rc), 0) AS BIGINT) AS rt
        |  FROM wst GROUP BY 1, 2),
        |wwide AS (SELECT doc_id,
        |    CAST(coalesce(sum(CASE WHEN n = 1 THEN m END), 0) AS BIGINT) AS wm1, CAST(coalesce(sum(CASE WHEN n = 1 THEN ct END), 0) AS BIGINT) AS wct1, CAST(coalesce(sum(CASE WHEN n = 1 THEN rt END), 0) AS BIGINT) AS wrt1,
        |    CAST(coalesce(sum(CASE WHEN n = 2 THEN m END), 0) AS BIGINT) AS wm2, CAST(coalesce(sum(CASE WHEN n = 2 THEN ct END), 0) AS BIGINT) AS wct2, CAST(coalesce(sum(CASE WHEN n = 2 THEN rt END), 0) AS BIGINT) AS wrt2
        |  FROM wpern GROUP BY doc_id),
        |j AS (SELECT w.doc_id, m1, ct1, rt1, m2, ct2, rt2, m3, ct3, rt3,
        |    m4, ct4, rt4, m5, ct5, rt5, m6, ct6, rt6,
        |    coalesce(wm1, 0) AS wm1, coalesce(wct1, 0) AS wct1, coalesce(wrt1, 0) AS wrt1,
        |    coalesce(wm2, 0) AS wm2, coalesce(wct2, 0) AS wct2, coalesce(wrt2, 0) AS wrt2
        |  FROM wide w LEFT JOIN wwide ww ON w.doc_id = ww.doc_id),
        |f AS (SELECT doc_id AS id,
        |    ((CASE WHEN ct1 > 0 THEN CAST(m1 AS DOUBLE) / CAST(ct1 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN ct2 > 0 THEN CAST(m2 AS DOUBLE) / CAST(ct2 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN ct3 > 0 THEN CAST(m3 AS DOUBLE) / CAST(ct3 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN ct4 > 0 THEN CAST(m4 AS DOUBLE) / CAST(ct4 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN ct5 > 0 THEN CAST(m5 AS DOUBLE) / CAST(ct5 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN ct6 > 0 THEN CAST(m6 AS DOUBLE) / CAST(ct6 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN wct1 > 0 THEN CAST(wm1 AS DOUBLE) / CAST(wct1 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN wct2 > 0 THEN CAST(wm2 AS DOUBLE) / CAST(wct2 AS DOUBLE) ELSE 0.0 END)) / 8.0 AS chrfpp_p,
        |    ((CASE WHEN rt1 > 0 THEN CAST(m1 AS DOUBLE) / CAST(rt1 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN rt2 > 0 THEN CAST(m2 AS DOUBLE) / CAST(rt2 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN rt3 > 0 THEN CAST(m3 AS DOUBLE) / CAST(rt3 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN rt4 > 0 THEN CAST(m4 AS DOUBLE) / CAST(rt4 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN rt5 > 0 THEN CAST(m5 AS DOUBLE) / CAST(rt5 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN rt6 > 0 THEN CAST(m6 AS DOUBLE) / CAST(rt6 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN wrt1 > 0 THEN CAST(wm1 AS DOUBLE) / CAST(wrt1 AS DOUBLE) ELSE 0.0 END) + (CASE WHEN wrt2 > 0 THEN CAST(wm2 AS DOUBLE) / CAST(wrt2 AS DOUBLE) ELSE 0.0 END)) / 8.0 AS chrfpp_r
        |  FROM j)
        |SELECT id, chrfpp_p, chrfpp_r,
        |  CASE WHEN 4.0 * chrfpp_p + chrfpp_r = 0.0 THEN 0.0
        |       ELSE 5.0 * chrfpp_p * chrfpp_r / (4.0 * chrfpp_p + chrfpp_r) END AS chrf_pp
        |FROM f""".stripMargin,

    // first-occurrence dedup via the list_position filter (DuckDB's
    // list_distinct does NOT preserve order); on a duplicate-free base,
    // two order-preserving slices have LCS = |intersection|
    "rouge_l" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS w0
        |  FROM documents),
        |d AS (SELECT doc_id,
        |    list_filter(w0, (x, i) -> list_position(w0, x) = i) AS base
        |  FROM t),
        |p AS (SELECT doc_id, base[3:14] AS pred, base[1:12] AS gold FROM d),
        |m AS (SELECT doc_id,
        |    CAST(len(list_intersect(pred, gold)) AS BIGINT) AS lcs,
        |    CAST(len(pred) AS BIGINT) AS n_cand,
        |    CAST(len(gold) AS BIGINT) AS n_ref
        |  FROM p)
        |SELECT doc_id AS id, lcs, n_cand, n_ref,
        |  CASE WHEN n_cand = 0 THEN 0.0
        |       ELSE CAST(lcs AS DOUBLE) / CAST(n_cand AS DOUBLE) END AS rouge_l_p,
        |  CASE WHEN n_ref = 0 THEN 0.0
        |       ELSE CAST(lcs AS DOUBLE) / CAST(n_ref AS DOUBLE) END AS rouge_l_r,
        |  CASE WHEN (CASE WHEN n_cand = 0 THEN 0.0
        |             ELSE CAST(lcs AS DOUBLE) / CAST(n_cand AS DOUBLE) END) +
        |            (CASE WHEN n_ref = 0 THEN 0.0
        |             ELSE CAST(lcs AS DOUBLE) / CAST(n_ref AS DOUBLE) END) = 0.0
        |       THEN 0.0
        |       ELSE 2.0 * (CAST(lcs AS DOUBLE) / CAST(n_cand AS DOUBLE)) *
        |            (CAST(lcs AS DOUBLE) / CAST(n_ref AS DOUBLE)) /
        |            ((CAST(lcs AS DOUBLE) / CAST(n_cand AS DOUBLE)) +
        |             (CAST(lcs AS DOUBLE) / CAST(n_ref AS DOUBLE)))
        |  END AS rouge_l_f
        |FROM m""".stripMargin,

    // same boundary vectors, same k-slot window sums, one division/doc
    "windowdiff_eval" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |s AS (SELECT doc_id, i.i AS pos,
        |    CASE WHEN i.i % 10 = 0 THEN 1 ELSE 0 END AS r,
        |    CASE WHEN len(w[i.i]) >= 8 THEN 1 ELSE 0 END AS h
        |  FROM d, LATERAL unnest(range(1, len(w))) AS i(i)),
        |f AS (SELECT doc_id, pos,
        |    CAST(sum(r) OVER wk AS BIGINT) AS rs,
        |    CAST(sum(h) OVER wk AS BIGINT) AS hs,
        |    CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS slots
        |  FROM s
        |  WINDOW wk AS (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING))
        |SELECT doc_id AS id,
        |  CAST(sum(CASE WHEN pos <= slots - 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_windows,
        |  CAST(sum(CASE WHEN pos <= slots - 3 AND rs <> hs THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_disagree,
        |  CASE WHEN sum(CASE WHEN pos <= slots - 3 THEN 1 ELSE 0 END) > 0 THEN
        |    CAST(sum(CASE WHEN pos <= slots - 3 AND rs <> hs THEN 1 ELSE 0 END)
        |      AS DOUBLE) /
        |    CAST(sum(CASE WHEN pos <= slots - 3 THEN 1 ELSE 0 END) AS DOUBLE)
        |  END AS window_diff
        |FROM f GROUP BY 1""".stripMargin,

    // same distinct-value rank rule, same quartile targets, one division
    "robust_scale" ->
      """WITH v AS (SELECT event_type AS grp, event_id AS id,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |c AS (SELECT grp, cents AS val, count(*) AS c FROM v GROUP BY 1, 2),
        |r AS (SELECT grp, val,
        |    CAST(sum(c) OVER (PARTITION BY grp ORDER BY val
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cr,
        |    CAST(sum(c) OVER (PARTITION BY grp) AS BIGINT) AS n
        |  FROM c),
        |q AS (SELECT grp,
        |    min(CASE WHEN cr >= (1 * n) // 4 +
        |      (CASE WHEN (1 * n) % 4 > 0 THEN 1 ELSE 0 END) THEN val END) AS q1,
        |    min(CASE WHEN cr >= (2 * n) // 4 +
        |      (CASE WHEN (2 * n) % 4 > 0 THEN 1 ELSE 0 END) THEN val END)
        |      AS median_cents,
        |    min(CASE WHEN cr >= (3 * n) // 4 +
        |      (CASE WHEN (3 * n) % 4 > 0 THEN 1 ELSE 0 END) THEN val END) AS q3
        |  FROM r GROUP BY 1)
        |SELECT v.grp, v.id, v.cents, q.median_cents,
        |  q.q3 - q.q1 AS iqr_cents,
        |  CASE WHEN q.q3 - q.q1 = 0 THEN NULL
        |       ELSE CAST(v.cents - q.median_cents AS DOUBLE) /
        |            CAST(q.q3 - q.q1 AS DOUBLE) END AS robust_score
        |FROM v JOIN q USING (grp)""".stripMargin,

    // identical operation structure: divisions, one sqrt
    "ab_ztest" ->
      """WITH a AS (SELECT
        |  CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(sum(CASE WHEN user_id % 2 = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n0,
        |  CAST(sum(CASE WHEN user_id % 2 = 1 AND value > 50.0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS x1,
        |  CAST(sum(CASE WHEN user_id % 2 <> 1 AND value > 50.0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS x0
        | FROM events)
        |SELECT n1, n0, x1, x0,
        |  CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
        |  CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
        |  (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |    - CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE))
        |  / sqrt((CAST(x1 + x0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))
        |       * (1.0 - CAST(x1 + x0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))
        |       * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n0 AS DOUBLE))) AS z
        |FROM a""".stripMargin,

    // same integer marginal products in HUGEINT, same rational collapse
    "kappa_agreement" ->
      """WITH p AS (SELECT lang AS a,
        |  CASE WHEN doc_id % 7 = 0 THEN 'en' ELSE lang END AS b
        |  FROM documents),
        |base AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS HUGEINT) AS agree
        |  FROM p),
        |am AS (SELECT a AS lbl, count(*) AS na FROM p GROUP BY 1),
        |bm AS (SELECT b AS lbl, count(*) AS nb FROM p GROUP BY 1),
        |ch AS (SELECT CAST(COALESCE(sum(CAST(na AS HUGEINT) * nb), 0) AS HUGEINT)
        |         AS chance
        |       FROM am JOIN bm USING (lbl))
        |SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS n_agree,
        |  CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
        |  CAST(chance AS DOUBLE) / CAST(n * n AS DOUBLE) AS pe,
        |  CASE WHEN n * n = chance THEN NULL
        |       ELSE CAST(n * agree - chance AS DOUBLE) /
        |            CAST(n * n - chance AS DOUBLE) END AS kappa
        |FROM base, ch""".stripMargin,

    // fixed-width bands on the bit-exact logit; integer counts, one
    // division per band
    "calibration_table" ->
      s"""WITH w AS (SELECT $wLitSql AS wv),
        |$gateScoredSql
        |SELECT CAST(least(greatest(floor(logit / 0.5), -8), 8) AS BIGINT) AS band,
        |  count(*) AS n,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS pos_rate
        |FROM sc GROUP BY 1""".stripMargin,

    // cumulative-from-top accept outcome per band; divisions of integers
    "pr_curve" ->
      s"""WITH w AS (SELECT $wLitSql AS wv),
        |$gateScoredSql,
        |b AS (SELECT CAST(least(greatest(floor(logit / 0.5), -8), 8) AS BIGINT) AS band,
        |        count(*) AS n,
        |        CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |      FROM sc GROUP BY 1),
        |c AS (SELECT band,
        |        CAST(sum(n) OVER (ORDER BY band DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_accepted,
        |        CAST(sum(n_pos) OVER (ORDER BY band DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
        |        CAST(sum(n_pos) OVER () AS BIGINT) AS pos_total
        |      FROM b)
        |SELECT band, n_accepted, tp,
        |  CAST(tp AS DOUBLE) / CAST(n_accepted AS DOUBLE) AS precision,
        |  CAST(tp AS DOUBLE) / CAST(pos_total AS DOUBLE) AS recall
        |FROM c""".stripMargin,

    // tie-corrected rank-sum AUC: average ranks are dyadic rationals
    // (k + m/2 with exact doubles), so their sum is order-independent
    // and exact — the one float sum that IS safe to leave unordered
    "model_auc" ->
      s"""WITH w AS (SELECT $wLitSql AS wv),
        |$gateScoredSql,
        |r AS (SELECT lang,
        |  CAST(rank() OVER (ORDER BY logit) AS DOUBLE) +
        |    (CAST(count(*) OVER (PARTITION BY logit) AS DOUBLE) - 1.0) / 2.0 AS ar
        |  FROM sc)
        |SELECT
        |  (sum(CASE WHEN lang = 'en' THEN ar END) -
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) *
        |    (CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) + 1) / 2.0) /
        |  (CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) *
        |   CAST(sum(CASE WHEN lang != 'en' THEN 1 ELSE 0 END) AS DOUBLE)) AS auc,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(sum(CASE WHEN lang != 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
        |FROM r""".stripMargin,

    // the same rank-sum per source slice: rank windows PARTITION BY the
    // slice, the final aggregation groups by it; single-class slices
    // yield NULL (0/0 would otherwise be NaN and hash-diverge)
    "auc_sliced" ->
      s"""WITH w AS (SELECT $wLitSql AS wv),
        |$gateScoredSql,
        |r AS (SELECT source, lang,
        |  CAST(rank() OVER (PARTITION BY source ORDER BY logit) AS DOUBLE) +
        |    (CAST(count(*) OVER (PARTITION BY source, logit) AS DOUBLE) - 1.0) / 2.0 AS ar
        |  FROM sc)
        |SELECT source AS slice,
        |  CASE WHEN sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) > 0
        |        AND sum(CASE WHEN lang != 'en' THEN 1 ELSE 0 END) > 0 THEN
        |  (sum(CASE WHEN lang = 'en' THEN ar END) -
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) *
        |    (CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) + 1) / 2.0) /
        |  (CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) *
        |   CAST(sum(CASE WHEN lang != 'en' THEN 1 ELSE 0 END) AS DOUBLE)) END AS auc,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(sum(CASE WHEN lang != 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
        |FROM r GROUP BY source""".stripMargin,

    // one-shot decile boundaries over the SAME rows the maintained state
    // absorbed — the maintained-vs-one-shot equality IS the contract
    "quantiles_maintained" ->
      """WITH v AS (SELECT n_chars AS v FROM documents),
        |t AS (SELECT count(*) AS n FROM v),
        |cum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM (SELECT v, count(*) AS c FROM v GROUP BY v))
        |SELECT CAST(b.b AS BIGINT) AS q, min(cum.v) AS boundary
        |FROM (SELECT unnest(range(1, 10)) AS b) b, t, cum
        |WHERE cum.cum >= CAST(ceil(b.b * n / 10.0) AS BIGINT)
        |GROUP BY b.b""".stripMargin,

    // the rank rule PARTITIONED by source: per-slice boundaries, then the
    // same #boundaries<=v decile lookup
    "decile_by_source" ->
      """WITH v AS (SELECT doc_id, source AS sig, n_chars AS v FROM documents),
        |t AS (SELECT sig, count(*) AS n FROM v GROUP BY sig),
        |cum AS (SELECT sig, v, CAST(sum(c) OVER (PARTITION BY sig ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM (SELECT sig, v, count(*) AS c FROM v GROUP BY sig, v)),
        |bnd AS (SELECT cum.sig, b.b AS b, min(cum.v) AS bv
        |  FROM (SELECT unnest(range(1, 10)) AS b) b, t, cum
        |  WHERE cum.sig = t.sig
        |    AND cum.cum >= CAST(ceil(b.b * t.n / 10.0) AS BIGINT)
        |  GROUP BY cum.sig, b.b),
        |bl AS (SELECT sig, list(bv ORDER BY b) AS bs FROM bnd GROUP BY sig)
        |SELECT v.doc_id, v.sig AS slice, v.v AS v,
        |  CAST(len(list_filter(bl.bs, x -> x <= v.v)) AS BIGINT) AS decile
        |FROM v JOIN bl ON bl.sig = v.sig""".stripMargin,

    // lower median (rank ceil(n/2)) of v, then of |v - med|, then a flag
    "mad_outliers" ->
      """WITH v AS (SELECT doc_id, n_chars AS v FROM documents),
        |t AS (SELECT count(*) AS n FROM v),
        |c1 AS (SELECT v.v, CAST(sum(c) OVER (ORDER BY v.v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM (SELECT v, count(*) AS c FROM v GROUP BY v) v),
        |m1 AS (SELECT min(c1.v) AS med FROM c1, t
        |       WHERE c1.cum >= CAST(ceil(n / 2.0) AS BIGINT)),
        |d AS (SELECT abs(v.v - m1.med) AS dv FROM v, m1),
        |c2 AS (SELECT d.dv, CAST(sum(c) OVER (ORDER BY d.dv
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM (SELECT dv, count(*) AS c FROM d GROUP BY dv) d),
        |m2 AS (SELECT min(c2.dv) AS mad FROM c2, t
        |       WHERE c2.cum >= CAST(ceil(n / 2.0) AS BIGINT))
        |SELECT doc_id, v.v AS v, abs(v.v - m1.med) AS dev,
        |  abs(v.v - m1.med) > 3 * m2.mad AS is_outlier
        |FROM v, m1, m2""".stripMargin,

    // the boundary pair by the same rank rule, then a pure clamp
    "winsorize" ->
      """WITH v AS (SELECT n_chars AS v FROM documents),
        |t AS (SELECT count(*) AS n FROM v),
        |cum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM (SELECT v, count(*) AS c FROM v GROUP BY v)),
        |b AS (SELECT
        |  min(CASE WHEN cum >= CAST(ceil(1 * n / 20.0) AS BIGINT) THEN v END) AS blo,
        |  min(CASE WHEN cum >= CAST(ceil(19 * n / 20.0) AS BIGINT) THEN v END) AS bhi
        |  FROM cum, t)
        |SELECT doc_id, n_chars,
        |  least(greatest(n_chars, blo), bhi) AS n_chars_w
        |FROM documents, b""".stripMargin,

    // the identical integer rank rule, q = 1..19 over one signal
    "exact_quantiles" ->
      """WITH v AS (SELECT n_chars AS v FROM documents),
        |t AS (SELECT count(*) AS n FROM v),
        |cum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM (SELECT v, count(*) AS c FROM v GROUP BY v))
        |SELECT CAST(b.b AS BIGINT) AS q, min(cum.v) AS boundary
        |FROM (SELECT unnest(range(1, 20)) AS b) b, t, cum
        |WHERE cum.cum >= CAST(ceil(b.b * n / 20.0) AS BIGINT)
        |GROUP BY b.b""".stripMargin,

    // the same equi-depth rank rule once per signal: boundary b = smallest
    // value with running count >= ceil(b*n/10); decile = #boundaries<=v;
    // composite = integer sum of deciles — exact on both engines
    "quality_ensemble" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS s_len,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS s_vocab,
        |    CAST(n_chars AS BIGINT) AS s_chars
        |  FROM documents),
        |t AS (SELECT count(*) AS n FROM d),
        |cum_len AS (SELECT v, CAST(sum(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM (SELECT s_len AS v, count(*) AS c FROM d GROUP BY 1)),
        |bl_len AS (SELECT list(bv ORDER BY b) AS bs FROM (
        |  SELECT b.b AS b, min(cum.v) AS bv
        |  FROM (SELECT unnest(range(1, 10)) AS b) b, t, cum_len cum
        |  WHERE cum.cum >= CAST(ceil(b.b * n / 10.0) AS BIGINT) GROUP BY b.b)),
        |cum_vocab AS (SELECT v, CAST(sum(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM (SELECT s_vocab AS v, count(*) AS c FROM d GROUP BY 1)),
        |bl_vocab AS (SELECT list(bv ORDER BY b) AS bs FROM (
        |  SELECT b.b AS b, min(cum.v) AS bv
        |  FROM (SELECT unnest(range(1, 10)) AS b) b, t, cum_vocab cum
        |  WHERE cum.cum >= CAST(ceil(b.b * n / 10.0) AS BIGINT) GROUP BY b.b)),
        |cum_chars AS (SELECT v, CAST(sum(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM (SELECT s_chars AS v, count(*) AS c FROM d GROUP BY 1)),
        |bl_chars AS (SELECT list(bv ORDER BY b) AS bs FROM (
        |  SELECT b.b AS b, min(cum.v) AS bv
        |  FROM (SELECT unnest(range(1, 10)) AS b) b, t, cum_chars cum
        |  WHERE cum.cum >= CAST(ceil(b.b * n / 10.0) AS BIGINT) GROUP BY b.b))
        |SELECT d.doc_id,
        |  CAST(len(list_filter(bl_len.bs, x -> x <= d.s_len)) AS BIGINT) AS len_decile,
        |  CAST(len(list_filter(bl_vocab.bs, x -> x <= d.s_vocab)) AS BIGINT) AS vocab_decile,
        |  CAST(len(list_filter(bl_chars.bs, x -> x <= d.s_chars)) AS BIGINT) AS chars_decile,
        |  CAST(len(list_filter(bl_len.bs, x -> x <= d.s_len))
        |     + len(list_filter(bl_vocab.bs, x -> x <= d.s_vocab))
        |     + len(list_filter(bl_chars.bs, x -> x <= d.s_chars)) AS BIGINT) AS composite
        |FROM d, bl_len, bl_vocab, bl_chars""".stripMargin,

    // same explicit rank rule for the boundaries (smallest v with running
    // count >= ceil(b*n/10)), same #boundaries<=v bucketing
    "drift_quantile" ->
      """WITH r AS (SELECT n_chars AS v FROM documents WHERE doc_id % 2 = 0),
        |c AS (SELECT n_chars AS v FROM documents WHERE doc_id % 2 = 1),
        |tt AS (SELECT count(*) AS rt FROM r),
        |ct AS (SELECT count(*) AS cc FROM c),
        |cum AS (SELECT v, CAST(sum(n) OVER (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |        FROM (SELECT v, count(*) AS n FROM r GROUP BY v)),
        |bnd AS (SELECT b.b AS b, min(cum.v) AS bv
        |        FROM (SELECT unnest(range(1, 10)) AS b) b, tt, cum
        |        WHERE cum.cum >= CAST(ceil(b.b * rt / 10.0) AS BIGINT)
        |        GROUP BY b.b),
        |bl AS (SELECT list(bv ORDER BY b) AS bs FROM bnd),
        |rb AS (SELECT CAST(len(list_filter(bs, x -> x <= v)) AS BIGINT) AS bucket,
        |         count(*) AS ref_n FROM r, bl GROUP BY 1),
        |cb AS (SELECT CAST(len(list_filter(bs, x -> x <= v)) AS BIGINT) AS bucket,
        |         count(*) AS cur_n FROM c, bl GROUP BY 1),
        |g AS (SELECT unnest(range(0, 10)) AS bucket)
        |SELECT g.bucket, COALESCE(ref_n, 0) AS ref_n, COALESCE(cur_n, 0) AS cur_n,
        |  CAST(COALESCE(ref_n, 0) + 1 AS DOUBLE) / (rt + 10) AS ref_frac,
        |  CAST(COALESCE(cur_n, 0) + 1 AS DOUBLE) / (cc + 10) AS cur_frac
        |FROM g CROSS JOIN tt CROSS JOIN ct
        |LEFT JOIN rb ON rb.bucket = g.bucket
        |LEFT JOIN cb ON cb.bucket = g.bucket""".stripMargin,

    // same integer bucket arithmetic (DuckDB floor-// vs Spark truncating
    // `div` diverge only below the lower clamp, where both land in bucket
    // 0); each share is one double division of exact integers
    "drift_report" ->
      """WITH r AS (SELECT n_chars AS v FROM documents WHERE doc_id % 2 = 0),
        |c AS (SELECT n_chars AS v FROM documents WHERE doc_id % 2 = 1),
        |p AS (SELECT min(v) AS mn, max(v) AS mx, count(*) AS rt,
        |        greatest(1, (max(v) - min(v) + 10) // 10) AS width,
        |        (SELECT count(*) FROM c) AS ct
        |      FROM r),
        |rk AS (SELECT least(greatest((r.v - p.mn) // p.width, 0), 9) AS bucket,
        |         count(*) AS ref_n FROM r, p GROUP BY 1),
        |ck AS (SELECT least(greatest((c.v - p.mn) // p.width, 0), 9) AS bucket,
        |         count(*) AS cur_n FROM c, p GROUP BY 1),
        |g AS (SELECT unnest(range(0, 10)) AS bucket)
        |SELECT g.bucket,
        |  p.mn + g.bucket * p.width AS lo,
        |  p.mn + (g.bucket + 1) * p.width AS hi,
        |  COALESCE(ref_n, 0) AS ref_n, COALESCE(cur_n, 0) AS cur_n,
        |  CAST(COALESCE(ref_n, 0) + 1 AS DOUBLE) / (p.rt + 10) AS ref_frac,
        |  CAST(COALESCE(cur_n, 0) + 1 AS DOUBLE) / (p.ct + 10) AS cur_frac
        |FROM g CROSS JOIN p
        |LEFT JOIN rk ON rk.bucket = g.bucket
        |LEFT JOIN ck ON ck.bucket = g.bucket""".stripMargin,
  )

  /** The bleu_corpus oracle, per-n fragments generated for n = 1..4 —
    * identical gram construction (chr(1) join, short-row guard), identical
    * clipped fold, corpus-pooled BIGINT sums, the same final divisions. */
  private lazy val BleuOracle: String = {
    def grams(n: Int, src: String) =
      s"""CASE WHEN len($src) < $n THEN CAST([] AS VARCHAR[])
         |ELSE list_transform(range(1, len($src) - ${n - 1} + 1),
         |  i -> array_to_string(list_slice($src, i, i + ${n - 1}), chr(1))) END"""
        .stripMargin
    val gramCols = (1 to 4).map(n =>
      s"${grams(n, "c")} AS cg$n,\n${grams(n, "r")} AS rg$n").mkString(",\n")
    val clipCols = (1 to 4).map(n =>
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(list_distinct(cg$n),
         |    g2 -> CAST(least(len(list_filter(cg$n, x -> x = g2)),
         |                     len(list_filter(rg$n, x -> x = g2))) AS BIGINT))),
         |  (a, b) -> a + b) AS clip$n,
         |CAST(len(cg$n) AS BIGINT) AS tot$n""".stripMargin).mkString(",\n")
    val sumCols = (1 to 4).map(n =>
      s"CAST(sum(clip$n) AS BIGINT) AS clip$n, " +
      s"CAST(sum(tot$n) AS BIGINT) AS tot$n").mkString(",\n  ")
    val pCols = (1 to 4).map(n =>
      s"CASE WHEN tot$n = 0 THEN NULL " +
      s"ELSE CAST(clip$n AS DOUBLE) / CAST(tot$n AS DOUBLE) END AS p$n")
      .mkString(",\n  ")
    s"""WITH d AS (SELECT text AS cand,
       |  array_to_string(list_slice(string_split(text, ' '), 1,
       |    greatest(len(string_split(text, ' ')) - 2, 1)), ' ') AS ref
       |  FROM documents),
       |tk AS (SELECT
       |  list_filter(string_split(cand, ' '), x -> len(x) > 0) AS c,
       |  list_filter(string_split(ref, ' '), x -> len(x) > 0) AS r
       |  FROM d),
       |gr AS (SELECT c, r,
       |$gramCols
       |FROM tk),
       |pr AS (SELECT
       |$clipCols,
       |CAST(len(c) AS BIGINT) AS lc, CAST(len(r) AS BIGINT) AS lr
       |FROM gr),
       |ag AS (SELECT
       |  $sumCols,
       |  CAST(sum(lc) AS BIGINT) AS c_len, CAST(sum(lr) AS BIGINT) AS r_len
       |FROM pr),
       |ratios AS (SELECT
       |  $pCols,
       |  c_len, r_len,
       |  CASE WHEN c_len >= r_len THEN CAST(1.0 AS DOUBLE)
       |       ELSE exp(1.0 - CAST(r_len AS DOUBLE) / CAST(c_len AS DOUBLE))
       |  END AS bp
       |FROM ag)
       |SELECT p1, p2, p3, p4, c_len, r_len, bp,
       |  bp * sqrt(sqrt(p1 * p2 * p3 * p4)) AS bleu
       |FROM ratios""".stripMargin
  }

  private lazy val DsirOracleBody: String =
    """WITH lt AS (
      |  SELECT w, count(*) AS cnt
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents
      |        WHERE lang = 'en')
      |  WHERE w <> '' GROUP BY w),
      |lr AS (
      |  SELECT w, count(*) AS cnt
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w <> '' GROUP BY w),
      |tt AS (SELECT CAST(2 * COALESCE(sum(cnt), 0) + count(*) + 1 AS BIGINT) AS d2 FROM lt),
      |tr AS (SELECT CAST(2 * COALESCE(sum(cnt), 0) + count(*) + 1 AS BIGINT) AS d2 FROM lr),
      |words AS (
      |  SELECT doc_id, w FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w <> ''),
      |j AS (SELECT doc_id, COALESCE(lt.cnt, 0) AS cnt_t, COALESCE(lr.cnt, 0) AS cnt_r
      |      FROM words LEFT JOIN lt USING (w) LEFT JOIN lr USING (w)),
      |s AS (SELECT doc_id,
      |        count(*) AS n_tokens,
      |        CAST(sum(2 * cnt_t + 1) AS DOUBLE) / CAST(tt.d2 * count(*) AS DOUBLE)
      |          AS mean_prob_target,
      |        CAST(sum(2 * cnt_r + 1) AS DOUBLE) / CAST(tr.d2 * count(*) AS DOUBLE)
      |          AS mean_prob_raw
      |      FROM j, tt, tr GROUP BY doc_id, tt.d2, tr.d2)
      |SELECT doc_id, n_tokens, mean_prob_target, mean_prob_raw,
      |       mean_prob_target / mean_prob_raw AS weight
      |FROM s""".stripMargin
}
