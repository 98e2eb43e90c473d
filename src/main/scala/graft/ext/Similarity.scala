package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.functions.vectors

/** A (neighbor id, similarity) pair carried through the top-k aggregation. */
case class Scored(id: Long, score: Double)

/** Typed top-k aggregator ordered by (score desc, id asc). Registered as a
  * UDAF it gets map-side partial aggregation: each input partition reduces to
  * ≤ k rows BEFORE the shuffle — the 100 TB-safe alternative to a global
  * `Window.partitionBy(query)` sort that would shuffle every (query,
  * candidate) pair. `minScoreExclusive` drops inputs at or below the bound
  * before they enter the buffer (a retrieval leg that ranks only positive
  * scores filters here, keeping the aggregate's pre-shuffle reduction). */
class TopKAgg(k: Int, minScoreExclusive: Double = Double.NegativeInfinity)
    extends Aggregator[Scored, Seq[Scored], Seq[Scored]] {
  private val ord: Ordering[Scored] = Ordering.by(s => (-s.score, s.id))
  override def zero: Seq[Scored] = Nil
  override def reduce(buf: Seq[Scored], in: Scored): Seq[Scored] =
    if (!(in.score > minScoreExclusive)) buf
    else ((buf :+ in).sorted(ord)).take(k)
  override def merge(a: Seq[Scored], b: Seq[Scored]): Seq[Scored] =
    ((a ++ b).sorted(ord)).take(k)
  override def finish(buf: Seq[Scored]): Seq[Scored] = buf
  override def bufferEncoder: Encoder[Seq[Scored]] = ExpressionEncoder[Seq[Scored]]()
  override def outputEncoder: Encoder[Seq[Scored]] = ExpressionEncoder[Seq[Scored]]()
}

/** One candidate scored under several ranking LEGS at once (e.g. the same
  * neighbor's cosine at each Matryoshka prefix length). */
case class MultiScored(id: Long, scores: Seq[Double])

/** [[TopKAgg]] for `legs` parallel rankings in ONE aggregation state: leg i
  * maintains its own (score desc, id asc) top-k over `scores(i)`. Same
  * map-side partial reduction (≤ legs·k rows per partition cross the wire),
  * but one UDAF column, one buffer, one encoder stack — for queries that
  * rank the same candidate stream several ways, N separate TopKAgg columns
  * pay N object-hash buffers for no informational gain. A NaN score (the
  * [[graft.functions.PrefixCosineSims]] zero-norm slot) fails the `> bound`
  * guard and never enters its leg. */
class MultiTopKAgg(k: Int, legs: Int,
                   minScoreExclusive: Double = Double.NegativeInfinity)
    extends Aggregator[MultiScored, Seq[Seq[Scored]], Seq[Seq[Scored]]] {
  private val ord: Ordering[Scored] = Ordering.by(s => (-s.score, s.id))
  override def zero: Seq[Seq[Scored]] = Seq.fill(legs)(Nil)
  override def reduce(buf: Seq[Seq[Scored]], in: MultiScored): Seq[Seq[Scored]] = {
    var i = -1
    buf.map { b =>
      i += 1
      val sc = in.scores(i)
      if (!(sc > minScoreExclusive)) b
      else ((b :+ Scored(in.id, sc)).sorted(ord)).take(k)
    }
  }
  override def merge(a: Seq[Seq[Scored]], b: Seq[Seq[Scored]]): Seq[Seq[Scored]] =
    a.zip(b).map { case (x, y) => ((x ++ y).sorted(ord)).take(k) }
  override def finish(buf: Seq[Seq[Scored]]): Seq[Seq[Scored]] = buf
  override def bufferEncoder: Encoder[Seq[Seq[Scored]]] = ExpressionEncoder[Seq[Seq[Scored]]]()
  override def outputEncoder: Encoder[Seq[Seq[Scored]]] = ExpressionEncoder[Seq[Seq[Scored]]]()
}

/** Approximate-nearest-neighbor search over an embedding column:
  *
  *  - [[annTopK]]: exact brute-force cosine top-k — broadcast the (small)
  *    query set against the full table; narrow scan, partial top-k per
  *    partition, merge of ≤ k rows per partition at the shuffle;
  *  - [[annIvf]]: IVF-style bucketed variant — assign every vector to its
  *    nearest of `nCells` centroids (broadcast), probe the `nProbe` cells
  *    nearest to each query, exact search within the probed cells only.
  *    Scans ~nProbe/nCells of the data; recall measured in AnnSpec.
  */
object Similarity {
  private type Q = (SparkSession, String) => DataFrame

  /** The native [[graft.functions.NativeTopK]] aggregate (primitive binary
    * buffer, no per-row encoder round-trip); semantics pinned ≡ the typed
    * [[TopKAgg]] UDAF by NativeTopKSpec. */
  private def topkUdaf(k: Int): (Column, Column) => Column =
    graft.functions.topk.topK(k)

  /** Centroid seed (first `nCells` vectors by id) collected to the driver and
    * shipped as a typed literal `array<struct<_1: cell id, _2: embedding>>` —
    * nCells is small by construction, so per-row centroid scoring becomes a
    * NARROW expression over this literal: zero joins, zero shuffles, in
    * contrast to a crossJoin + groupBy argmax that would shuffle the full
    * table (embeddings included) before the probe join. */
  /** The deterministic id-ordered centroid seed (first `nCells` vectors) —
    * THE seeding rule, shared by [[centroidLit]], the `ann_ivf_trained`
    * persistence gate, and [[graft.ext.Dedup.buildEmbeddingIndex]], so a
    * change to it (e.g. a different tie-break) cannot desync the engine
    * from its SQL oracles. */
  private[ext] def centroidSeed(emb: DataFrame, nCells: Int): Seq[(Long, Seq[Float])] =
    emb.orderBy("vec_id").limit(nCells)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .toSeq

  private[ext] def centroidLit(emb: DataFrame, nCells: Int): Column =
    typedLit(centroidSeed(emb, nCells))

  /** Shared INTEGER quantization of a cosine similarity, identical by
    * construction in both dialects (round-7 verdict #5 / ADVICE r7 #2):
    * `floor(csim * 1e9 + 0.5)` — an IEEE double multiply, add, and floor,
    * each bit-identical between Spark and DuckDB for the same input —
    * instead of each dialect's own `round(x, 9)` (Spark rounds HALF_UP on
    * the decimal string, DuckDB on the binary double: the two can disagree
    * at any x.5e-9 boundary, a standing gate-flake risk). Near-tied
    * centroids within 1e-9 still collapse to the same integer and break to
    * the smallest cell id on both sides, and the +0.5 keeps the LSH sign
    * rule collapsing near-ZERO cosines to the same bit (a plain floor would
    * split ±1e-17 across the 0/-1 boundary). Output `sim` values stay full
    * precision — only ordering keys and sign bits are quantized. */
  // NaN (an all-Infinity embedding can produce one; zero norms yield NULL)
  // is pinned to Long.MaxValue explicitly on BOTH sides: Spark's floor-cast
  // sends NaN to 0L while DuckDB's floor keeps NaN (ranked greatest), so
  // without the pin the two dialects would rank a NaN cosine differently —
  // the round(x, 9) this replaced ranked NaN greatest on both. The pin is
  // routed through nanvl (NaN → +Inf → floor → Long.MaxValue) so the
  // cosine argument is evaluated exactly ONCE: a when(isnan(c), …, f(c))
  // form references c twice and codegen does not hoist it — measured ~2×
  // on annLsh's 32-cosines-per-row bucket expression.
  private[ext] def quantSim(c: Column): Column =
    floor(nanvl(c, lit(Double.PositiveInfinity)) * lit(1e9) + lit(0.5))
  private[ext] def quantSimSql(e: String): String =
    s"CASE WHEN isnan($e) THEN 9223372036854775807 " +
      s"ELSE CAST(floor(($e) * 1e9 + 0.5) AS BIGINT) END"

  /** Per-row centroid scores as `struct(quantSim(csim), -cell_id)`: struct
    * ordering makes `array_max` (and a descending sort) pick the highest
    * cosine with ties broken to the SMALLEST cell id — the same
    * (quantSim(csim) DESC, cell_id ASC) order the SQL oracle's row_number
    * uses. */
  private[ext] def cellScores(e: Column, cents: Column): Column =
    transform(cents, c => struct(
      quantSim(vectors.cosineSim(e, c.getField("_2"))).as("csim"),
      (-c.getField("_1")).as("ncell")))

  /** Nearest-centroid id per row — narrow argmax over the centroid literal. */
  private[ext] def nearestCell(e: Column, cents: Column): Column =
    -array_max(cellScores(e, cents)).getField("ncell")

  /** Top-`n` nearest centroid ids per row (csim DESC, cell_id ASC). */
  private[ext] def nearestCells(e: Column, cents: Column, n: Int): Column =
    transform(slice(reverse(array_sort(cellScores(e, cents))), 1, n),
      s => -s.getField("ncell"))

  /** Lloyd k-means IVF centroid trainer — closes the "cell population must
    * be re-tuned by hand" caveat: cells adapt to the corpus instead of being
    * the first-k seed.
    *
    * 100 TB shape: trains on a DETERMINISTIC stride sample (`vec_id % stride
    * == 0`, no global sort, no random shuffle) bounded by `maxSample`;
    * each Lloyd round is one narrow assignment pass over the sample (the
    * broadcast-literal argmax of [[nearestCell]] — zero joins) plus one
    * per-dimension mean aggregation; only nCells × dim doubles ever reach
    * the driver. Empty cells keep their previous centroid. Fully
    * deterministic: same corpus → same centroids. */
  def trainCentroids(emb: DataFrame, nCells: Int, iters: Int = 5,
                     maxSample: Long = 100000L): Seq[(Long, Seq[Float])] = {
    val n = emb.count()
    val stride = math.max(1L, n / math.max(1L, maxSample))
    val sample = emb.where(pmod(col("vec_id"), lit(stride)) === 0)
      .select(col("vec_id"), col("embedding")).cache()
    try {
      // seed SPREAD across the id-ordered sample (every count/nCells-th
      // vector), not first-k: a degenerate first-k seed (e.g. all from one
      // cluster of a sorted corpus) can leave Lloyd stuck in that cluster.
      // The single-partition window sorts only the bounded sample.
      val cnt = sample.count()
      val step = math.max(1L, cnt / nCells)
      val w = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
      var cents: Seq[(Long, Seq[Float])] =
        sample.withColumn("rn", row_number().over(w))
          .where((col("rn") - 1) % step === 0)
          .orderBy("vec_id").limit(nCells).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1)))
          .zipWithIndex.map { case ((_, e), i) => (i.toLong, e) }.toSeq
      for (_ <- 1 to iters) {
        val centsLit = typedLit(cents)
        // two-step select: a generator multi-alias (posexplode .as(Seq...))
        // in the same projection re-resolves sibling expressions and strips
        // the named-struct aliases inside the nearestCell lambda
        val means = sample
          .select(nearestCell(col("embedding"), centsLit).as("cell"), col("embedding"))
          .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy(col("cell"), col("pos")).agg(avg(col("v")).as("m"))
          .groupBy(col("cell"))
          .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
          .select(col("cell"), expr("transform(ps, s -> CAST(s.m AS FLOAT))").as("c"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
        cents = cents.map { case (id, old) => (id, means.getOrElse(id, old)) }
      }
      cents
    } finally sample.unpersist()
  }

  /** Persist centroids (trained or seeded) as parquet
    * `(cell_id LONG, centroid ARRAY<FLOAT>)` — the durable half of the IVF
    * state (round-7 verdict #6, the [[graft.ext.Dedup.buildJaccardIndex]]
    * pattern): train once on a corpus sample, reload for every subsequent
    * batch/query session instead of re-training. Floats round-trip parquet
    * bit-exactly, so a loaded index reproduces the exact assignments of the
    * in-memory one (pinned by ExtSpec and the `ann_ivf_trained` oracle
    * row). */
  def saveCentroids(spark: SparkSession, cents: Seq[(Long, Seq[Float])],
                    path: String): Unit = {
    import spark.implicits._
    cents.toDF("cell_id", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load centroids persisted by [[saveCentroids]], id-ordered. nCells is
    * small by construction, so the driver-side collect is bounded. */
  def loadCentroids(spark: SparkSession, path: String): Seq[(Long, Seq[Float])] =
    spark.read.parquet(path).orderBy("cell_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq

  /** Persist the IVF index PROPER: every vector written under its
    * nearest-cell partition (`path/cell_id=<c>/`) — the assignments table
    * [[annIvf]] recomputes per run, paid once. A query then reads ONLY
    * its `nProbe` probed cells via partition pruning — the vector-side
    * twin of the [[graft.ext.Retrieval]] phrase-index result (query
    * latency decoupled from corpus size); re-assign on the centroid drift
    * the [[graft.ext.Quality.driftReport]] over cell populations shows. */
  def saveIvfIndex(emb: DataFrame, centroids: Seq[(Long, Seq[Float])],
                   path: String): Unit =
    emb.select(col("vec_id"), col("embedding"),
        nearestCell(col("embedding"), typedLit(centroids)).as("cell_id"))
      .write.mode("overwrite").partitionBy("cell_id").parquet(path)

  /** ANN against a [[saveIvfIndex]] directory: identical results to
    * [[annIvf]] with the same centroids (same assignment, same probe
    * set, same scoring — spec-pinned), but the scan touches only the
    * probed cell partitions (PartitionFilters on `cell_id`, pinned). The
    * probed-cell set is ≤ |queries|·nProbe ids collected driver-side —
    * bounded by the query batch, not the corpus. */
  def annIvfIndexed(spark: SparkSession, path: String,
                    centroids: Seq[(Long, Seq[Float])], queries: DataFrame,
                    k: Int = 5, nProbe: Int = 4): DataFrame = {
    val cents = typedLit(centroids)
    val qcells = queries.select(
      col("vec_id").as("query_id"), col("embedding").as("qe"),
      explode(nearestCells(col("embedding"), cents, nProbe)).as("cell_id"))
    val probed = qcells.select("cell_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val assigned = spark.read.parquet(path)
      .where(col("cell_id").isin(probed: _*))
      .select(col("vec_id"), col("embedding"), col("cell_id"))
    val sims = assigned.join(broadcast(qcells), "cell_id")
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        vectors.cosineSim(col("qe"), col("embedding")).as("sim"))
    explodeTopK(
      sims.groupBy("query_id")
        .agg(topkUdaf(k)(col("vec_id"), col("sim")).as("nb")))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk, "Margin-based Parallel
    * Corpus Mining with Multilingual Sentence Embeddings", ACL 2019): the
    * CCMatrix/LASER recipe for harvesting translation pairs from two
    * monolingual embedding sets. A pair (x ∈ src, y ∈ tgt) is emitted
    * when x and y are MUTUAL nearest neighbors and the ratio-margin
    *
    *   margin(x,y) = cos(x,y) / (½·avgₖ(x→tgt) + ½·avgₖ(y→src))
    *
    * clears `marginThreshold` — the margin normalizes away "hub" vectors
    * that are near everything, the failure mode of raw-cosine mining.
    *
    * Plan shape (r15 fused form): the src side is collected once and baked
    * into the plan as a float matrix — the same driver-bounded posture as
    * the `broadcast(src)` of the retained join form ([[bitextMineJoin]]);
    * this exact miner is the DECLARED small-|src| baseline and
    * [[bitextMineIvf]] (or [[bitextAuto]]) is the corpus-scale path. The
    * |src|×|tgt| similarity matrix then never becomes rows at all: two
    * NARROW scans of tgt ([[graft.functions.CosineSimsAll]] emits each
    * row's full cosine vector inside codegen) cover both directions — the
    * forward top-ks fold through ONE global [[graft.functions
    * .NativeMultiTopK]] with |src| legs and come back as ≤ |src|·k pairs,
    * and the backward top-k is a per-row [[graft.functions.ArgTopKLit]]
    * with NO aggregation. Mutual-best and margin then join the backward
    * scan against the driver-built forward table — ≤ |src| rows in a
    * `LocalRelation`, so it plans as a broadcast-hash join with O(1)
    * probes and no shuffle of the corpus side (an `element_at` over a
    * map LITERAL was measured first and abandoned: Catalyst's
    * `GetMapValue` probes linearly). Net: one broadcast build plus the
    * scans — zero shuffle exchanges, three jobs total. Averages fold the
    * top-k in rank order (deterministic; the oracle mirrors with
    * `list(... ORDER BY rk)`), and every cosine/margin is bit-equal to
    * the join form (BitextFusedSpec). NULL hygiene: src rows with a NULL
    * `vec_id` or `embedding` are dropped before the matrix bake — the
    * join form's NULL-cosine rows silently fell out of its inner joins,
    * and the fused form preserves those drop semantics (ADVICE r15 #1). */
  def bitextMine(src: DataFrame, tgt: DataFrame, k: Int = 4,
                 marginThreshold: Double = 1.0): DataFrame = {
    // r15 fused form: the join-based miner (retained as [[bitextMineJoin]])
    // paid for the |src|×|tgt| BroadcastNestedLoopJoin materializing every
    // joined row (both embeddings copied per pair) plus a 2-structs-per-pair
    // explode into the dual top-k aggregation. Here the src side becomes a
    // plan-baked matrix — the same driver-bounded posture as the
    // broadcast(src) it replaces; [[bitextMineIvf]] remains the scale
    // path — and the pipeline is two NARROW scans of tgt with no join of
    // the matrix at all:
    //   - backward: each tgt row's [[graft.functions.CosineSimsAll]] vector
    //     yields its own top-k sources per row ([[graft.functions
    //     .ArgTopKLit]]) — no aggregation;
    //   - forward: ONE global [[graft.functions.NativeMultiTopK]] with
    //     |src| legs folds the same vectors into every source's top-k
    //     targets (≤ |src|·k rows per partition cross the wire).
    // Every cosine is the identical sequential fold of [[vectors
    // .cosineSim]], so sims/margins are bit-equal to the join form
    // (BitextFusedSpec pins it) and the SQL oracle is unchanged.
    // NULL vec_id/embedding rows would NPE the matrix bake below; the join
    // form dropped them via NULL-cosine inner-join semantics, so the fused
    // form filters them up front to match (ADVICE r15 #1)
    val srcRows = src.select(col("vec_id"), col("embedding"))
      .where(col("vec_id").isNotNull && col("embedding").isNotNull)
      .orderBy("vec_id").collect()
    if (srcRows.isEmpty) return emptyMineResult(src.sparkSession)
    val sids = srcRows.map(_.getLong(0))
    val mat = srcRows.map(_.getSeq[Float](1).toArray)
    val perTgt = tgt.select(col("vec_id").as("tid"),
      graft.functions.matrix.cosineSimsAll(col("embedding"), mat).as("cosv"))
    // rank-order fold; the size guard keeps an EMPTY top-k (every cosine
    // NULL — zero-norm rows) an ANSI-safe NULL instead of a /0 error even
    // if the optimizer hoists this above the emptiness filter
    def avgOf(nb: Column): Column =
      when(size(nb) > 0,
        aggregate(nb, lit(0.0), (acc, s) => acc + s.getField("score")) / size(nb))
    // Forward direction: ONE global aggregation, collected — ≤ |src|·k
    // (id, score) pairs, the same driver-bounded posture as the matrix
    // itself. The rank-order average replays the identical IEEE fold the
    // join form's `aggregate(...)/size` ran (sequential adds, then one
    // divide), so margins stay bit-equal.
    val legs = perTgt
      .agg(graft.functions.topk.multiTopK(k, sids.length)(
        col("tid"), col("cosv")).as("legs"))
      .head().getSeq[scala.collection.Seq[org.apache.spark.sql.Row]](0)
    // (sid, best tid, best sim, rank-order top-k average) per src with at
    // least one defined cosine — a src whose every cosine was NaN has no
    // best edge and drops, the join form's inner-join semantics
    val fwdRows = sids.indices.iterator.flatMap { i =>
      val nb = legs(i)
      if (nb.isEmpty) Iterator.empty
      else Iterator.single((sids(i), nb.head.getLong(0), nb.head.getDouble(1),
        nb.foldLeft(0.0)(_ + _.getDouble(1)) / nb.size))
    }.toSeq
    // Backward direction + mutual-best + margin off the ONE remaining
    // narrow scan. The forward table is driver data (≤ |src| rows), so the
    // mutual check is a broadcast-hash join against a LocalRelation — O(1)
    // probes and no extra corpus scan. (An element_at(map-literal) lookup
    // was measured here first: Catalyst's literal-map GetMapValue probes
    // LINEARLY, turning the tail into O(|src|·|tgt|) — the r15 ScaleProbe
    // 10× regression.)
    val spark = tgt.sparkSession
    import spark.implicits._
    val fwd = broadcast(fwdRows.toDF("f_src", "f_tgt", "sim", "avg_src"))
    // NOTE: no `.where(size(nb) > 0)` guard here — it is semantically
    // redundant (an empty backward top-k yields a NULL src_id via
    // get(nb, 0), and NULL equi-join keys never match an inner join; the
    // avgOf size-guard already NULLs avg_tgt), and it was MEASURED ~2×
    // harmful: predicate pushdown inlines the alias all the way into the
    // parquet scan's DataFilters, so arg_top_k_lit(cosine_sims_all(...))
    // — the full |src|-cosine matrix row plus its top-k — evaluated TWICE
    // per tgt row (r16 BitextPlanProbe; final-job 1.23 s → 0.4 s idle)
    val mined = perTgt
      .select(col("tid"),
        graft.functions.matrix.argTopKLit(col("cosv"), sids, k).as("nb"))
      .select(col("tid").as("tgt_id"),
        get(col("nb"), lit(0)).getField("id").as("src_id"),
        avgOf(col("nb")).as("avg_tgt"))
      .join(fwd, col("src_id") === col("f_src") && col("tgt_id") === col("f_tgt"))
      .withColumn("margin",
        col("sim") / (lit(0.5) * col("avg_src") + lit(0.5) * col("avg_tgt")))
      .where(col("margin") >= marginThreshold)
      .select("src_id", "tgt_id", "sim", "margin")
    // constraint propagation scoped OFF for the final query (the item_cooc
    // ConfScope discipline): the inner join's inferred isnotnull(src_id)/
    // isnotnull(avg_tgt) constraints push through both projections and
    // inline arg_top_k_lit(cosine_sims_all(...)) into the scan's filter —
    // a SECOND full |src|-cosine matrix pass per tgt row, with the avg's
    // `aggregate` HOF dragging it out of codegen (r16 BitextPlanProbe:
    // final job 1.2 s → ~0.5 s idle at sf0.1, plan carries exactly ONE
    // cosine_sims_all eval). The inference is semantically redundant here:
    // a NULL src_id cannot match the inner join anyway.
    ConfScope(mined, "spark.sql.constraintPropagation.enabled" -> "false")
  }

  private def emptyMineResult(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("src_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("tgt_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sim",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("margin",
          org.apache.spark.sql.types.DoubleType))))

  /** The pre-r15 join-form exact miner — |src|×|tgt| broadcast cross join
    * through [[mineFromSims]] — retained as the differential reference
    * (BitextFusedSpec pins [[bitextMine]] ≡ this, bit-exact). */
  private[ext] def bitextMineJoin(src: DataFrame, tgt: DataFrame, k: Int = 4,
                                  marginThreshold: Double = 1.0): DataFrame = {
    val q = broadcast(src.select(col("vec_id").as("sid"), col("embedding").as("se")))
    val sims = tgt.select(col("vec_id").as("tid"), col("embedding").as("te"))
      .crossJoin(q)
      .select(col("sid"), col("tid"),
        vectors.cosineSim(col("se"), col("te")).as("sim"))
    mineFromSims(sims, k, marginThreshold)
  }

  /** The mining tail shared by [[bitextMine]] and [[bitextMineIvf]]:
    * dual-direction top-ks off ONE pass over the (sid, tid, sim) table,
    * rank-order average folds, mutual-best join, margin filter. */
  private def mineFromSims(sims: DataFrame, k: Int,
                           marginThreshold: Double): DataFrame = {
    val tk = sims
      .select(explode(array(
        struct(lit(0).as("side"), col("sid").as("key"), col("tid").as("other")),
        struct(lit(1).as("side"), col("tid").as("key"), col("sid").as("other"))))
        .as("x"), col("sim"))
      .groupBy(col("x.side").as("side"), col("x.key").as("key"))
      .agg(topkUdaf(k)(col("x.other"), col("sim")).as("nb"))
      // size guard: an empty top-k (all cosines NULL) must yield a NULL
      // average, not an ANSI /0 error — its row drops at the side filters
      .withColumn("avg", when(size(col("nb")) > 0,
        aggregate(col("nb"), lit(0.0),
          (acc, s) => acc + s.getField("score")) / size(col("nb"))))
      // materialize: the fwd/bwd side filters would otherwise push below
      // the aggregation and re-evaluate the full sim matrix once per
      // branch; the checkpointed table is ≤ |src|+|tgt| top-k rows
      .localCheckpoint()
    // a key whose every candidate cosine was NULL/NaN still forms a group
    // with an EMPTY top-k (the guard drops the inputs, not the group) —
    // such keys drop here (they can have no best edge; zero-norm embeddings
    // reach this in the IVF path). `get(nb, 0)` not `nb[0]`: the optimizer
    // can hoist the extraction above this filter, and on an empty array the
    // ANSI apply throws where get() yields a NULL the filter then drops.
    val fwd = tk.where(col("side") === 0 && size(col("nb")) > 0).select(
      col("key").as("src_id"), get(col("nb"), lit(0)).getField("id").as("tgt_id"),
      get(col("nb"), lit(0)).getField("score").as("sim"), col("avg").as("avg_src"))
    val bwd = tk.where(col("side") === 1 && size(col("nb")) > 0).select(
      col("key").as("b_tgt"), get(col("nb"), lit(0)).getField("id").as("b_src"),
      col("avg").as("avg_tgt"))
    fwd.join(bwd, col("tgt_id") === col("b_tgt") && col("src_id") === col("b_src"))
      .withColumn("margin",
        col("sim") / (lit(0.5) * col("avg_src") + lit(0.5) * col("avg_tgt")))
      .where(col("margin") >= marginThreshold)
      .select("src_id", "tgt_id", "sim", "margin")
  }

  /** The IVF SCALE PATH for [[bitextMine]]: candidate pairs come from
    * shared IVF cells instead of the full |src|×|tgt| product — each side
    * is assigned its primary cell and probes its `nProbe` nearest, and a
    * pair is scored iff one side's probe set contains the other's primary
    * cell (both directions, so coverage is symmetric). Downstream
    * (top-ks, averages, mutuality, margin) is IDENTICAL code to the
    * exact form — only the candidate generation narrows. Same
    * deterministic id-ordered centroid seed as [[annIvf]] (from the `tgt`
    * side), so the full SQL oracle applies; top-k averages are over the
    * CANDIDATE neighborhood, the approximation a production miner
    * actually ships (Artetxe & Schwenk compute margins over retrieved
    * candidates too). Scans ~nProbe/nCells of each cross product. */
  def bitextMineIvf(src: DataFrame, tgt: DataFrame, k: Int = 4,
                    marginThreshold: Double = 1.0,
                    nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val cents = centroidLit(tgt, nCells)
    // NOT spread (r18 A/B, min-of-5, sentinel-matched subset runs):
    // per-side spreads before the assignment/probe joins measured
    // 1.17 → 1.49 s — the 2-task sim-matrix stage the TaskSkewProbe
    // flags here is stage-setup overhead, not compute (4k vectors × 16
    // cells ≈ 4M flops), so the extra round-robin exchanges inside
    // mineFromSims' eager checkpoint only add serial AQE stage rounds.
    val srcA = src.select(col("vec_id").as("sid"), col("embedding").as("se"),
      nearestCell(col("embedding"), cents).as("cell"))
    val tgtA = tgt.select(col("vec_id").as("tid"), col("embedding").as("te"),
      nearestCell(col("embedding"), cents).as("cell"))
    val srcP = src.select(col("vec_id").as("sid"), col("embedding").as("se"),
      explode(nearestCells(col("embedding"), cents, nProbe)).as("cell"))
    val tgtP = tgt.select(col("vec_id").as("tid"), col("embedding").as("te"),
      explode(nearestCells(col("embedding"), cents, nProbe)).as("cell"))
    val a = srcP.join(tgtA, "cell")
      .select(col("sid"), col("tid"),
        vectors.cosineSim(col("se"), col("te")).as("sim"))
    val b = tgtP.join(srcA, "cell")
      .select(col("sid"), col("tid"),
        vectors.cosineSim(col("se"), col("te")).as("sim"))
    // sim is the same expression over the same vectors in both branches —
    // bit-identical, so the distinct collapses duplicates exactly
    mineFromSims(a.unionByName(b).distinct(), k, marginThreshold)
  }

  /** Measured routing between the exact fused miner and the IVF scale path
    * (VERDICT r14 item 5 — the [[annAuto]]/[[graft.ext.Dedup.dedupAuto]]
    * discipline applied to mining): the exact form's cost is the |src|·|tgt|
    * cosine product plus a plan-baked |src| matrix, so the router decides on
    * the PRODUCT — at or below `exactMaxProduct` pairs the brute matrix scan
    * is both exact and faster (no centroid assignment, no probe join, three
    * jobs total); above it, [[bitextMineIvf]] bounds the candidate product
    * through probed cells sized by [[Tuning.suggestIvf]]'s √n geometry on
    * the centroid-seeding (tgt) side. Two `count()`s decide. The default
    * crossover (10⁷ pairs ≈ 3000×3000) sits an order of magnitude above the
    * sf0.1 gate product (10⁶), where BitextAutoSpec measures the exact form
    * still ahead — the product is compute-bound (dim multiplies), so the
    * boundary scales down with dim and a user tunes it per corpus
    * (default [[Tuning.BitextExactMaxProduct]]).
    *
    * COST NOTE (ADVICE r15 #4): the router's two `count()`s each execute
    * the UPSTREAM plan once before the mine — two extra scans when the
    * inputs are uncached expression pipelines. For trivial upstreams
    * (a parquet read) the counts are footer-metadata cheap; for derived
    * inputs, `cache()`/`localCheckpoint()` them first so the router's
    * counts and the miner's own scans share one materialization. */
  def bitextAuto(src: DataFrame, tgt: DataFrame, k: Int = 4,
                 marginThreshold: Double = 1.0,
                 exactMaxProduct: Long = Tuning.BitextExactMaxProduct): DataFrame = {
    val ns = src.count()
    val nt = tgt.count()
    if (bitextRoutesExact(ns, nt, exactMaxProduct))
      bitextMine(src, tgt, k, marginThreshold)
    else {
      val p = Tuning.suggestIvf(nt)
      bitextMineIvf(src, tgt, k, marginThreshold,
        nCells = p.nCells, nProbe = p.nProbe)
    }
  }

  /** [[bitextAuto]]'s routing predicate, factored out so the exact
    * boundary arithmetic is unit-testable at corpus sizes a spec cannot
    * materialize (BitextAutoSpec pins the 10⁷ default boundary with
    * non-square |src|≠|tgt| shapes): exact iff |src|·|tgt| ≤ bound,
    * compared as `ns ≤ bound/nt` so the product can never overflow Long.
    * The floor division loses nothing: for integer ns,
    * `ns·nt ≤ bound ⟺ ns ≤ ⌊bound/nt⌋`, so the predicate is EXACTLY the
    * product comparison, boundary inclusive. */
  private[ext] def bitextRoutesExact(ns: Long, nt: Long,
                                     exactMaxProduct: Long): Boolean =
    ns == 0 || nt == 0 || ns <= exactMaxProduct / nt

  /** Measured routing between exact and IVF ANN — the [[graft.ext.Dedup
    * .dedupAuto]] discipline applied to search: below `exactMax` vectors
    * brute force is both exact AND faster (no assignment pass, no
    * centroid training to amortize), above it route to [[annIvf]] with
    * [[Tuning.suggestIvf]]'s √n geometry. One `count()` decides (one
    * extra upstream execution when `emb` is an uncached derived plan —
    * cache it first in that case); the threshold defaults to
    * [[Tuning.AnnExactMax]], not an inline constant. */
  def annAuto(emb: DataFrame, queries: DataFrame, k: Int = 5,
              exactMax: Long = Tuning.AnnExactMax): DataFrame = {
    val n = emb.count()
    if (n <= exactMax) annTopK(emb, queries, k)
    else {
      val p = Tuning.suggestIvf(n)
      annIvf(emb, queries, k, nCells = p.nCells, nProbe = p.nProbe)
    }
  }

  /** Mean-pool member embeddings into one vector per group — the
    * chunk→document rollup every long-document embedding pipeline runs
    * (encode chunks, pool to a doc vector for [[annTopK]]/
    * [[semdedupPrune]]). Emitted FLAT as (group, dim, mean) rows.
    *
    * Determinism: a TWO-LEVEL ordered fold (never `sum()`'s physical
    * order). Level 1 groups (group, dim, ⌊id / 4096⌋) and folds each
    * fixed id-range chunk's values in ascending id order; level 2 folds
    * the chunk partial sums in ascending chunk order. The chunk
    * boundaries are pure id arithmetic ([[PoolChunkShift]] — independent
    * of partitioning, data order, or engine), so the fold tree is FIXED
    * and the pooled doubles are bit-reproducible anywhere the same
    * convention runs; the DuckDB oracles compute the identical chain.
    *
    * Scale (VERDICT r13 item 3, closing the r12 watch item): per-group
    * state is bounded — ≤4096 (id, v) structs at level 1 and n/4096
    * chunk partials at level 2 — instead of the previous single-level
    * fold's O(group size) collected list, which at [[embeddingDrift]]'s
    * two whole-slice groups meant O(slice) per executor and an OOM at
    * 10^9-row slices. Two co-partitioning exchanges carry (group, dim[,
    * chunk]) keys. Ids must be integral (the chunk key is id
    * arithmetic). */
  /** Johnson–Lindenstrauss random projection to `outDim` dimensions — the
    * standard dimensionality cut before a 100 TB embedding store or a
    * cheaper ANN pass (JL lemma: pairwise distances survive to (1±ε) with
    * outDim = O(log n / ε²)). The projection matrix is a DETERMINISTIC
    * ±1 sign pattern derived from integer arithmetic on (i, j) — no RNG,
    * no stored matrix, any engine regenerates it bit-identically — and
    * each output coordinate is a FIXED-ORDER fold over the input dims
    * (ascending i), so the double sums are bit-reproducible across
    * engines and partitionings. Narrow per-row compute; nothing shuffles.
    */
  def jlProject(emb: DataFrame, outDim: Int = 16,
                vecCol: String = "embedding", outCol: String = "jl"): DataFrame = {
    require(outDim >= 1, "need a positive output dimension")
    val v = col(vecCol)
    // sign(i, j) ∈ {−1, +1} from an integer LCG mix of the coordinates;
    // the >> 16 discards the low bits an LCG cycles fastest
    def sign(i: Column, j: Column): Column =
      lit(1.0) - lit(2.0) * pmod(floor(
        (i * 1103515245L + j * 12345L + 6789L) / lit(65536.0)), lit(2L))
        .cast("double")
    emb.withColumn(outCol,
      transform(sequence(lit(0), lit(outDim - 1)), j =>
        aggregate(sequence(lit(0), size(v) - 1), lit(0.0),
          (acc, i) => acc + element_at(v, i + 1).cast("double") * sign(i, j))
          / sqrt(lit(outDim.toDouble))))
  }

  /** ⌊id / 2^PoolChunkShift⌋ defines [[poolEmbeddings]]' fold chunks —
    * part of the cross-engine convention (the oracles hard-code 4096). */
  val PoolChunkShift: Int = 12

  def poolEmbeddings(emb: DataFrame, group: Column,
                     id: Column = col("vec_id")): DataFrame =
    emb.select(group.as("grp"), id.cast("long").as("__id"),
        posexplode(col("embedding")).as(Seq("dim", "__v")))
      // level 1: ordered fold within each fixed 4096-id chunk
      .groupBy(col("grp"), col("dim"),
        shiftright(col("__id"), PoolChunkShift).as("__ck"))
      .agg(count(lit(1)).as("__n"),
        aggregate(
          array_sort(collect_list(struct(col("__id"), col("__v").cast("double").as("__v")))),
          lit(0.0), (acc, s) => acc + s.getField("__v")).as("__s"))
      // level 2: ordered fold of the chunk partial sums
      .groupBy(col("grp"), col("dim"))
      .agg(sum(col("__n")).as("__n"),
        aggregate(
          array_sort(collect_list(struct(col("__ck"), col("__s").as("__s")))),
          lit(0.0), (acc, s) => acc + s.getField("__s")).as("__sum"))
      .select(col("grp"), col("dim").cast("long").as("dim"),
        (col("__sum") / col("__n").cast("double")).as("mean"))

  /** EMBEDDING distribution drift — the missing modality beside the
    * scalar [[graft.ext.Quality.driftReport]] family: per-dimension
    * centroid means of a reference slice vs a current slice (an embedding
    * model upgrade, a re-crawl, a new provider) and the absolute per-dim
    * shift. The monitoring question is "did the embedding space move",
    * which scalar histograms cannot see — a space rotation keeps every
    * norm histogram identical while every downstream ANN index silently
    * degrades.
    *
    * Exactness: both centroids ride [[poolEmbeddings]]' two-level
    * ordered-fold discipline (fixed id-range chunks folded in id order,
    * chunk partials in chunk order — never an unordered float SUM), so
    * means and shifts are bit-identical cross-engine. Scale: one union
    * pass; per-group state is bounded (≤4096 values per level-1 chunk,
    * n/4096 partials at level 2) even though the "groups" here are two
    * whole slices — a 10^9-row slice holds (ScaleProbe pins the flat
    * per-task state). An EMPTY side is a legitimate monitoring state
    * ("no reference data yet"): its means surface as NULL (shift NULL,
    * summary cosine NULL), never a crash — RobustnessSpec pins it. */
  def embeddingDrift(ref: DataFrame, cur: DataFrame,
                     id: Column = col("vec_id")): DataFrame = {
    val u = ref.select(lit("ref").as("__side"), id.as("__id"), col("embedding"))
      .unionByName(
        cur.select(lit("cur").as("__side"), id.as("__id"), col("embedding")))
    poolEmbeddings(u, col("__side"), col("__id"))
      .groupBy("dim")
      .agg(max(when(col("grp") === "ref", col("mean"))).as("ref_mean"),
        max(when(col("grp") === "cur", col("mean"))).as("cur_mean"))
      .select(col("dim"), col("ref_mean"), col("cur_mean"),
        abs(col("cur_mean") - col("ref_mean")).as("abs_shift"))
  }

  /** One-row summary of [[embeddingDrift]]: cosine between the two
    * centroids (THE "did the space move" scalar — 1.0 = no directional
    * drift) plus both centroid norms. Folds the per-dim table in dim
    * order (64 rows — a fixed IEEE chain, never an unordered sum). */
  def embeddingDriftSummary(ref: DataFrame, cur: DataFrame,
                            id: Column = col("vec_id")): DataFrame = {
    val perDim = embeddingDrift(ref, cur, id)
    def fold(f: Column => Column): Column =
      aggregate(array_sort(collect_list(struct(col("dim"), col("ref_mean"),
          col("cur_mean")))),
        lit(0.0), (acc, s) => acc + f(s))
    perDim.agg(
        fold(s => s.getField("ref_mean") * s.getField("cur_mean")).as("__dot"),
        fold(s => s.getField("ref_mean") * s.getField("ref_mean")).as("__nr"),
        fold(s => s.getField("cur_mean") * s.getField("cur_mean")).as("__nc"))
      .select(
        when(col("__nr") === 0.0 || col("__nc") === 0.0, lit(null).cast("double"))
          .otherwise(col("__dot") / (sqrt(col("__nr")) * sqrt(col("__nc"))))
          .as("centroid_cos"),
        sqrt(col("__nr")).as("ref_norm"), sqrt(col("__nc")).as("cur_norm"))
  }

  /** Deterministic Rademacher (±1) hyperplanes for sign-LSH: `tables` hash
    * tables × `bits` planes × `dim` components, drawn from a fixed-seed
    * java.util.Random (a specified, platform-stable LCG) — same corpus, same
    * seed → same buckets, which is what lets [[annLsh]] carry a full SQL
    * oracle (the identical ±1.0 literals are interpolated into the SQL).
    * ±1 components are a standard choice for sign random projections
    * (Achlioptas-style sparse/signed projections preserve the collision-
    * probability guarantee 1 − θ/π of Charikar's SimHash). */
  private[ext] def hyperplanes(dim: Int, tables: Int, bits: Int,
                               seed: Long): Seq[Seq[Seq[Float]]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(tables)(Seq.fill(bits)(Seq.fill(dim)(if (rnd.nextBoolean()) 1f else -1f)))
  }

  /** Packed sign-LSH bucket for one table: bit j = (cos(e, plane_j) ≥ 0).
    * Uses [[graft.functions.CosineSim]] (same sign as the raw dot product,
    * and already proven bit-exact against DuckDB's list_cosine_similarity by
    * the ann_topk hash gate); the shared [[quantSim]] integer guard
    * collapses a sub-1e-9 |cos| to the same integer on both engine and
    * oracle sides so a 1-ulp summation difference can never flip a
    * near-orthogonal bit. */
  private def lshBucket(e: Column, planes: Seq[Seq[Float]]): Column =
    planes.zipWithIndex.map { case (h, j) =>
      when(quantSim(vectors.cosineSim(e, typedLit(h))) >= 0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Sign-hyperplane LSH ANN — the bucketed scale path beside [[annIvf]]:
    * each vector lands in one `bits`-bit bucket per hash table (a NARROW
    * per-row expression over literal hyperplanes — no shuffle of the data
    * side), queries broadcast, candidates come from per-table bucket
    * equality, and survivors get an exact cosine + partial top-k. Scans only
    * colliding buckets; recall is governed by (tables, bits) — measured in
    * ExtSpec; defaults come from [[Tuning.LshDefaultTables]] /
    * [[Tuning.LshDefaultBits]] (the [[Tuning.suggestSignLshBits]] solution
    * at the ~10⁶-vector calibration corpus — pass `suggestSignLshBits(n)`
    * for larger corpora). A pair colliding in several tables is deduped by
    * a FIRST-SHARED-TABLE predicate (r16, VERDICT r15 item 1): each
    * exploded row carries its side's full per-table signature array (a
    * `tables`-element narrow recompute), and only the row whose `t` is the
    * first index where the two arrays agree survives — a pure per-row
    * filter, replacing the `distinct()` that exchanged the whole candidate
    * stream a second time (the [[Joins.overlapJoin]] first-shared-bucket
    * trick). The surviving pair SET is provably identical to the distinct
    * form — every colliding pair keeps exactly one row and `sim` is the
    * same expression on every copy — so the SQL oracle's `SELECT DISTINCT`
    * candidate step still mirrors it exactly. */
  def annLsh(emb: DataFrame, queries: DataFrame, k: Int = 5,
             tables: Int = Tuning.LshDefaultTables,
             bits: Int = Tuning.LshDefaultBits,
             seed: Long = 42L, dim: Option[Int] = None): DataFrame = {
    // prefer the caller-supplied dimension: probing it from the data costs a
    // Spark job at plan-CONSTRUCTION time and throws on an empty input
    // (ADVICE r7 #4)
    val d = dim.getOrElse {
      val probe = emb.select(size(col("embedding"))).head(1)
      require(probe.nonEmpty,
        "annLsh: cannot infer the embedding dimension from an empty " +
          "DataFrame — pass dim explicitly")
      probe(0).getInt(0)
    }
    val planes = hyperplanes(d, tables, bits, seed)
    // each exploded row keeps its side's FULL signature array (`tables`
    // BIGINTs — cheap narrow recompute) so multi-table collisions can be
    // deduped by a per-row predicate instead of a distinct() exchange.
    // The generator explodes a LITERAL index range and the bucket is an
    // element_at above the Generate — exploding the signature attribute
    // itself was measured ~1.25× slower: InferFiltersFromGenerate infers
    // `size(sig) > 0` below the Generate and predicate pushdown inlines
    // the alias, evaluating the full 32-cosine signature array TWICE per
    // row (the literal range folds that inferred filter to a constant)
    def buckets(df: DataFrame, idAs: String, embAs: String,
                sigAs: String): DataFrame =
      df.select(col("vec_id").as(idAs), col("embedding").as(embAs),
          array(planes.map(tp => lshBucket(col("embedding"), tp)): _*).as(sigAs))
        .select(col(idAs), col(embAs), col(sigAs),
          explode(sequence(lit(0), lit(tables - 1))).as("t"))
        .select(col(idAs), col(embAs), col(sigAs), col("t"),
          element_at(col(sigAs), col("t") + 1).as("bucket"))
    // spread the DATA side first (r17): a one-file corpus computes the
    // tables×bits cosine signature single-task otherwise. This is a
    // round-robin redistribution, NOT a join-key shuffle — co-location
    // is irrelevant here (the query side broadcasts) and it no-ops at
    // cluster scale (files ≥ cores); the PlanSpec pin still forbids any
    // HASH exchange on the data side.
    val data = buckets(Dedup.spread(emb), "vec_id", "embedding", "sig")
    val q = broadcast(buckets(queries, "query_id", "qe", "qsig"))
    // first-shared-table dedup: the joined row already agrees at index t,
    // so the first agreeing index always exists and is ≤ t; keeping only
    // t == that index leaves exactly one row per colliding pair. Built as
    // a CASE chain over literal indices (table count is a plan-time
    // constant), NOT zip_with/array_position: higher-order functions have
    // no codegen, and one in the join condition drops the whole broadcast
    // join out of whole-stage codegen (measured +25% on the sf0.1 gate)
    val firstShared = Dedup.firstSharedIndex(tables)(i =>
      col("sig").getItem(i) === col("qsig").getItem(i))
    val sims = data.join(q, Seq("t", "bucket"))
      .where(col("vec_id") =!= col("query_id") && col("t") === firstShared)
      .select(col("query_id"), col("vec_id"),
        vectors.cosineSim(col("qe"), col("embedding")).as("sim"))
    // AQE scoped OFF (the quality_ensemble discipline): this plan is ONE
    // bounded shuffle — the partial top-k ships ≤ k rows per query per
    // task and the build side is the broadcast query set — so adaptive
    // re-planning has nothing to improve (no skew, nothing to coalesce)
    // and its per-stage materialization just multiplies the job rounds
    // (measured −17%, LshProbe pred vs pred_noaqe at sf0.1). The scope is
    // per operator, not session-wide: the same A/B over the floor-ledger
    // gates (r16) showed item_cooc needs AQE's exchange reuse
    ConfScope(explodeTopK(
      sims.groupBy("query_id")
        .agg(topkUdaf(k)(col("vec_id"), col("sim")).as("nb"))),
      "spark.sql.adaptive.enabled" -> "false")
  }

  private def explodeTopK(grouped: DataFrame): DataFrame =
    grouped
      .select(col("query_id"), posexplode(col("nb")).as(Seq("pos", "s")))
      .select(col("query_id"), col("s.id").as("neighbor_id"),
        (col("pos") + 1).as("rank"), col("s.score").as("sim"))

  /** Exact cosine top-k for each query vector against all of `emb`. */
  def annTopK(emb: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("qe")))
    val sims = emb.join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        vectors.cosineSim(col("qe"), col("embedding")).as("sim"))
    explodeTopK(
      sims.groupBy("query_id")
        .agg(topkUdaf(k)(col("vec_id"), col("sim")).as("nb")))
  }

  /** Truncated-dimension serving eval (Matryoshka representations,
    * Kusupati et al. 2022): recall@k of the cosine top-k computed over
    * only the FIRST `d` dimensions against the full-dimension exact
    * top-k, per query per candidate `d` — the measurement behind "can we
    * serve d of the D dims" (truncated embeddings cut index memory and
    * bandwidth D/d-fold; whether neighborhoods survive is an empirical
    * property of the embedding model this table answers). An MRL-trained
    * model holds recall at small d; a conventional model decays — either
    * way, measure before truncating (the annRecall discipline).
    *
    * Scale: ONE corpus scan (VERDICT r13 item 3 — the leg-per-dim form
    * re-scanned `emb` once per dim plus once for the exact leg): every
    * pair row from the single broadcast-query join computes ALL legs'
    * cosines in one [[graft.functions.PrefixCosineSims]] fold (each
    * element touched once, checkpoints at each prefix — no sliced-array
    * allocation, ~D flops per pair instead of Σd + D), and one groupBy
    * carries ONE [[MultiTopKAgg]] maintaining every leg's top-k in a
    * single partial-aggregating state (≤ legs·k rows per partition cross
    * the wire). What the fusion removes is the 1+|dims| table scans,
    * joins, and shuffles — at 100 TB the scan IS the cost. The recall
    * intersection happens inside the grouped row (two ≤k id arrays), no
    * result joins. Exactness: each checkpoint publishes the same partial
    * sums the oracle's `list_cosine_similarity(embedding[1:d])` fold
    * reaches, so every sim is bit-identical to the sliced form; the
    * per-leg rank rule is the proven (sim DESC, id); recall is one IEEE
    * division of an exact integer count. */
  def mrlRecall(emb: DataFrame, queries: DataFrame, k: Int = 5,
                dims: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1), "need positive dims")
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qe")))
    // slot layout: dims in caller order, the full-length leg last
    val nLegs = dims.length + 1
    val pairs = emb.join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        vectors.prefixCosineSims(col("qe"), col("embedding"),
          dims :+ Int.MaxValue).as("sims"))
    val multiTopk = graft.functions.topk.multiTopK(k, nLegs)
    val grouped = pairs.groupBy("query_id")
      .agg(multiTopk(col("vec_id"), col("sims")).as("nb"))
    def ids(i: Int): Column = transform(col("nb").getItem(i), s => s.getField("id"))
    val legs = dims.zipWithIndex.map { case (d, i) =>
      struct(lit(d.toLong).as("dim_kept"),
        size(array_intersect(ids(nLegs - 1), ids(i))).cast("long").as("n_hits"))
    }
    grouped
      .select(col("query_id"), explode(array(legs: _*)).as("leg"))
      .select(col("leg.dim_kept").as("dim_kept"), col("query_id"),
        col("leg.n_hits").as("n_hits"),
        (col("leg.n_hits").cast("double") / lit(k.toDouble)).as("recall"))
  }

  /** IVF-style ANN: centroids are the first `nCells` vectors by id
    * (deterministic stand-in for trained centroids).
    *
    * Scale shape: both cell assignment (data side) and cell probing (query
    * side) are NARROW per-row expressions over the centroid literal — the
    * first exchange in the plan is the broadcast of the (small) probe set;
    * the big side is never shuffled before the probe join. Size
    * `nCells`/`nProbe` with the corpus via [[Tuning.suggestIvf]]
    * (`nCells ≈ √n` keeps per-cell population and cell count both O(√n));
    * the defaults here fit the small gate corpus only. */
  def annIvf(emb: DataFrame, queries: DataFrame, k: Int = 5,
             nCells: Int = 16, nProbe: Int = 4,
             centroids: Option[Seq[(Long, Seq[Float])]] = None): DataFrame = {
    val cents = centroids.map(cs => typedLit(cs)).getOrElse(centroidLit(emb, nCells))
    val assigned = emb.select(col("vec_id"), col("embedding"),
      nearestCell(col("embedding"), cents).as("cell_id"))
    val qcells = queries.select(
      col("vec_id").as("query_id"), col("embedding").as("qe"),
      explode(nearestCells(col("embedding"), cents, nProbe)).as("cell_id"))
    val sims = assigned.join(broadcast(qcells), "cell_id")
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        vectors.cosineSim(col("qe"), col("embedding")).as("sim"))
    explodeTopK(
      sims.groupBy("query_id")
        .agg(topkUdaf(k)(col("vec_id"), col("sim")).as("nb")))
  }

  // ------------------------------------------------- scalar quantization

  /** Per-dimension symmetric int8 scale (`max|v| / 127`) for [[annSq8]].
    * The aggregation collapses the corpus to `dim` rows before the collect —
    * driver state is `dim` doubles (the `loadCentroids` bounded posture). */
  def sq8Scales(emb: DataFrame): Seq[Double] =
    emb.select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg((max(abs(col("v").cast("double"))) / 127.0).as("s"))
      .collect().sortBy(_.getInt(0)).map(_.getDouble(1)).toSeq

  /** The SQ8 view of a vector: per-dim round-half-up to int8 (clamped ±127),
    * dequantized back by the scale. `floor(x/s + 0.5)` rather than `round`
    * — both engines' `floor` is IEEE-exact, while round-half cases differ
    * between Spark (HALF_UP) and DuckDB (HALF_EVEN). Emitted as the
    * dequantized doubles the distance math consumes; the storage win at
    * scale is the int8 code (4× vs float32), the arithmetic is identical. */
  private def sq8Dequant(v: Column, scales: Seq[Double]): Column = {
    val sLit = array(scales.map(lit): _*)
    zip_with(transform(v, x => x.cast("double")), sLit, (x, s) =>
      when(s === 0.0, lit(0.0)).otherwise(
        greatest(least(floor(x / s + lit(0.5)), lit(127.0)), lit(-127.0)) * s))
  }

  /** Scalar-quantization ANN: exact cosine top-k over the int8-quantized
    * corpus — the third compression family next to [[annPq]] (codebooks)
    * and [[annLsh]] (hashes). Same broadcast-query/narrow-scan shape as
    * [[annTopK]]: nothing shuffles but the |Q|·k result. Quantization is
    * deterministic, so the whole path carries a full SQL oracle. */
  def annSq8(emb: DataFrame, queries: DataFrame, k: Int = 5,
             scales: Option[Seq[Double]] = None): DataFrame = {
    val sc = scales.getOrElse(sq8Scales(emb))
    val dq = emb.select(col("vec_id"), sq8Dequant(col("embedding"), sc).as("dq"))
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      sq8Dequant(col("embedding"), sc).as("qdq")))
    val sims = dq.join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        vectors.cosineSim(col("qdq"), col("dq")).as("sim"))
    explodeTopK(
      sims.groupBy("query_id")
        .agg(topkUdaf(k)(col("vec_id"), col("sim")).as("nb")))
  }

  // ------------------------------------------------- hard-negative mining

  /** Hard-negative mining for contrastive training data: for each labeled
    * anchor in `queries`, the top-`k` most-cosine-similar vectors whose
    * `label` DIFFERS from the anchor's — the near-miss negatives that make
    * a contrastive batch informative (easy negatives are already far away;
    * same-label neighbors are positives, not negatives).
    *
    * Exact brute-force variant: same shape as [[annTopK]] — broadcast the
    * (small) anchor set, narrow cosine scan over `emb`, per-partition
    * partial top-k; the label-mismatch predicate rides the broadcast join
    * condition so excluded candidates never reach the aggregation. For
    * corpus-sized anchor sets use [[hardNegativesIvf]]. */
  def hardNegatives(emb: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), col("label").as("qlabel")))
    val sims = emb
      .join(q, col("vec_id") =!= col("query_id") && col("label") =!= col("qlabel"))
      .select(col("query_id"), col("vec_id"),
        vectors.cosineSim(col("qe"), col("embedding")).as("sim"))
    explodeTopK(
      sims.groupBy("query_id")
        .agg(topkUdaf(k)(col("vec_id"), col("sim")).as("nb")))
  }

  /** [[hardNegatives]] restricted to IVF-probed cells — the scale path when
    * the anchor set is itself corpus-sized: cell assignment is a narrow
    * expression over the broadcast centroid literal on BOTH sides, the only
    * join is the equi-join on `cell_id`, and the label-mismatch predicate
    * filters candidates before the top-k aggregation. Scans ~nProbe/nCells
    * of the data per anchor, like [[annIvf]]; deterministic given the
    * id-ordered centroid seed, so it carries a full SQL oracle. */
  def hardNegativesIvf(emb: DataFrame, queries: DataFrame, k: Int = 5,
                       nCells: Int = 16, nProbe: Int = 4,
                       centroids: Option[Seq[(Long, Seq[Float])]] = None): DataFrame = {
    val cents = centroids.map(cs => typedLit(cs)).getOrElse(centroidLit(emb, nCells))
    val assigned = emb.select(col("vec_id"), col("embedding"), col("label"),
      nearestCell(col("embedding"), cents).as("cell_id"))
    val qcells = queries.select(
      col("vec_id").as("query_id"), col("embedding").as("qe"), col("label").as("qlabel"),
      explode(nearestCells(col("embedding"), cents, nProbe)).as("cell_id"))
    val sims = assigned.join(broadcast(qcells), "cell_id")
      .where(col("vec_id") =!= col("query_id") && col("label") =!= col("qlabel"))
      .select(col("query_id"), col("vec_id"),
        vectors.cosineSim(col("qe"), col("embedding")).as("sim"))
    // no dedup needed: each candidate lives in exactly ONE cell (argmax
    // assignment), so a (anchor, candidate) pair arises at most once even
    // though the anchor probes nProbe cells — same reasoning as [[annIvf]]
    explodeTopK(
      sims.groupBy("query_id")
        .agg(topkUdaf(k)(col("vec_id"), col("sim")).as("nb")))
  }

  // ---------------------------------------------------------------- PQ ANN

  /** Exact squared-L2 distance between two double arrays as a SEQUENTIAL
    * index-order fold — `aggregate(zip_with(...), 0.0, +)` adds elements
    * left-to-right, exactly like the oracle's `list_reduce(list_prepend(
    * 0.0, ...))`, so the float math is bit-identical across engines (the
    * [[graft.ext.TextAnalysis.embedTfidf]] determinism discipline; no
    * quantization guard needed). Inputs must already be DOUBLE arrays —
    * float arithmetic would round differently than the oracle's
    * `CAST(... AS DOUBLE[])`. */
  private[ext] def pqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Per-subspace nearest-codeword ids as an `m`-length int array — a
    * NARROW expression over the broadcast codebook literal (the
    * [[nearestCell]] pattern): for each subspace, `array_min` over
    * `struct(cost, code)` picks the smallest squared-L2 with ties to the
    * smallest code id, matching the oracle's `ORDER BY cost, code`. */
  private def pqCodes(e: Column, cb: Column, m: Int, subDim: Int): Column =
    transform(sequence(lit(0), lit(m - 1)), mm =>
      array_min(transform(element_at(cb, mm + 1), ent =>
        struct(
          pqDist(slice(e, mm * subDim + 1, lit(subDim)), ent.getField("_2")).as("cost"),
          ent.getField("_1").as("code"))))
        .getField("code"))

  /** Deterministic product-quantization seed codebooks: subspace `mm`'s
    * codewords are the `mm`-th `subDim`-slices of the first `nCodes`
    * vectors by id, code ids 0..nCodes-1 in id order — the [[centroidSeed]]
    * rule lifted to subspaces, shared with the `ann_pq` SQL oracle. */
  private[ext] def pqSeedCodebooks(emb: DataFrame, m: Int,
                                   nCodes: Int): Seq[Seq[(Int, Seq[Double])]] = {
    val rows = emb.orderBy("vec_id").limit(nCodes)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0))
    require(rows.nonEmpty, "pqSeedCodebooks: empty embedding table")
    val dim = rows.head.length
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val subDim = dim / m
    (0 until m).map(mm => rows.toSeq.zipWithIndex.map { case (v, i) =>
      (i, v.slice(mm * subDim, mm * subDim + subDim))
    })
  }

  /** Per-subspace Lloyd k-means PQ training (Jégou et al. 2011: each
    * subspace gets its own `nCodes`-word quantizer minimizing squared-L2 —
    * NOT the cosine objective of [[trainCentroids]], so this is its own
    * loop with the same 100 TB shape): a deterministic stride sample
    * bounded by `maxSample`, then per iteration ONE narrow assignment pass
    * over all m subspaces at once (posexplode of the per-subspace argmin
    * array) plus one (m × nCodes × subDim)-group mean aggregation; only
    * m × nCodes × subDim doubles of driver state. Seeded by the spread
    * sample rule of [[trainCentroids]]; empty cells keep their codeword. */
  def trainPqCodebooks(emb: DataFrame, m: Int, nCodes: Int, iters: Int = 5,
                       maxSample: Long = 100000L): Seq[Seq[(Int, Seq[Double])]] = {
    val n = emb.count()
    val stride = math.max(1L, n / math.max(1L, maxSample))
    val sample = emb.where(pmod(col("vec_id"), lit(stride)) === 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e")).cache()
    try {
      val cnt = sample.count()
      require(cnt > 0, "trainPqCodebooks: empty sample")
      val step = math.max(1L, cnt / nCodes)
      val w = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
      val seedRows = sample.withColumn("rn", row_number().over(w))
        .where((col("rn") - 1) % step === 0)
        .orderBy("vec_id").limit(nCodes)
        .select("e").collect().map(_.getSeq[Double](0))
      val dim = seedRows.head.length
      require(dim % m == 0, s"dim $dim must divide into $m subspaces")
      val subDim = dim / m
      var cbs: Seq[Seq[(Int, Seq[Double])]] =
        (0 until m).map(mm => seedRows.toSeq.zipWithIndex.map { case (v, i) =>
          (i, v.slice(mm * subDim, mm * subDim + subDim))
        })
      for (_ <- 1 to iters) {
        val cbLit = typedLit(cbs)
        // two-step selects around each generator (the trainCentroids
        // resolution caveat), slicing the materialized double array
        val means = sample
          .select(col("e"), pqCodes(col("e"), cbLit, m, subDim).as("codes"))
          .select(col("e"), posexplode(col("codes")).as(Seq("m", "code")))
          .select(col("m"), col("code"),
            posexplode(slice(col("e"), col("m") * subDim + 1, lit(subDim)))
              .as(Seq("pos", "v")))
          .groupBy("m", "code", "pos").agg(avg("v").as("mean"))
          .groupBy("m", "code")
          .agg(array_sort(collect_list(struct(col("pos"), col("mean")))).as("ps"))
          .select(col("m"), col("code"), expr("transform(ps, s -> s.mean)").as("c"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
        cbs = cbs.zipWithIndex.map { case (cb, mm) =>
          cb.map { case (code, old) => (code, means.getOrElse((mm, code), old)) }
        }
      }
      cbs
    } finally sample.unpersist()
  }

  /** Persist PQ codebooks as parquet `(m INT, code INT, sub ARRAY<DOUBLE>)`
    * — the durable PQ state ([[saveCentroids]] pattern): train once on a
    * corpus sample, reload for every encode/search session. Doubles
    * round-trip parquet bit-exactly. */
  def savePqCodebooks(spark: SparkSession, cbs: Seq[Seq[(Int, Seq[Double])]],
                      path: String): Unit = {
    import spark.implicits._
    cbs.zipWithIndex.flatMap { case (cb, mm) =>
      cb.map { case (code, sub) => (mm, code, sub) }
    }.toDF("m", "code", "sub").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load codebooks persisted by [[savePqCodebooks]], (m, code)-ordered. */
  def loadPqCodebooks(spark: SparkSession, path: String): Seq[Seq[(Int, Seq[Double])]] =
    spark.read.parquet(path).orderBy("m", "code").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.map(r => (r._2, r._3)).toSeq }

  /** Product-quantization encode: each vector compresses to `m` codeword
    * ids (`codes ARRAY<INT>`) — at m=8 × 1 byte-scale codes that is a
    * 32× reduction over 64 float dims, the storage layout that lets a
    * 100 TB embedding corpus fit a RAM-resident ANN tier. A narrow
    * per-row expression over the broadcast codebook literal: no join, no
    * shuffle, whole corpus encoded at scan time. */
  def pqEncode(emb: DataFrame, codebooks: Seq[Seq[(Int, Seq[Double])]]): DataFrame = {
    val m = codebooks.length
    val subDim = codebooks.head.head._2.length
    val sorted = codebooks.map(_.sortBy(_._1))
    emb.select(col("vec_id"),
      pqCodes(col("embedding").cast("array<double>"), typedLit(sorted), m, subDim)
        .as("codes"))
  }

  /** PQ ANN with asymmetric distance computation (ADC, Jégou et al. 2011):
    * the corpus side is only `(vec_id, codes)` — the compressed
    * representation — while each (broadcast) query precomputes its
    * `m × nCodes` table of exact subspace distances to every codeword;
    * a candidate's approximate distance is then `m` table lookups summed
    * in subspace order (`adist`), never touching the original vectors.
    *
    * Scale shape: encode and the query distance tables are narrow
    * expressions over the codebook literal; the corpus never shuffles
    * before the (broadcast) query join, and the final top-k is the
    * [[TopKAgg]] partial aggregation — ≤ k rows per partition reach the
    * exchange. Ranking is by `adist` ASC with ties to the smaller id;
    * every per-pair sum is a fixed-order fold of bit-exact doubles, so the
    * full algorithm carries a SQL oracle. Compose with [[annIvf]] cells
    * for IVF-PQ (encode within probed cells only). */
  def annPq(emb: DataFrame, queries: DataFrame, k: Int = 5, m: Int = 8,
            nCodes: Int = 16,
            codebooks: Option[Seq[Seq[(Int, Seq[Double])]]] = None): DataFrame = {
    val cbs = codebooks.getOrElse(pqSeedCodebooks(emb, m, nCodes)).map(_.sortBy(_._1))
    val mSub = cbs.length
    val subDim = cbs.head.head._2.length
    val cb = typedLit(cbs)
    val enc = pqEncode(emb, cbs)
    val qd = queries.select(col("vec_id").as("query_id"),
      transform(sequence(lit(0), lit(mSub - 1)), mm =>
        transform(element_at(cb, mm + 1), ent =>
          pqDist(slice(col("embedding").cast("array<double>"), mm * subDim + 1, lit(subDim)),
            ent.getField("_2"))))
        .as("dtab"))
    val scored = enc.join(broadcast(qd), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        aggregate(
          transform(sequence(lit(0), lit(mSub - 1)), mm =>
            element_at(element_at(col("dtab"), mm + 1),
              element_at(col("codes"), mm + 1) + 1)),
          lit(0.0), (acc, x) => acc + x).as("adist"))
    explodeTopK(
      scored.groupBy("query_id")
        .agg(topkUdaf(k)(col("vec_id"), -col("adist")).as("nb")))
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        (-col("sim")).as("adist"))
  }

  /** Per-row L2 cell scores as `struct(cost, cell)` over a double-array
    * centroid literal — [[cellScores]]' squared-L2 twin (PQ composes with
    * L2 geometry, not the cosine cells of [[annIvf]]). `array_min` picks
    * the nearest cell with ties to the smallest id; bit-exact by the
    * [[pqDist]] fixed-order fold. */
  private def cellCostsL2(e: Column, cents: Column): Column =
    transform(cents, c => struct(
      pqDist(e, c.getField("_2")).as("cost"),
      c.getField("_1").as("cell")))

  /** The `n` nearest cells by (cost ASC, cell ASC). */
  private def nearestCellsL2(e: Column, cents: Column, n: Int): Column =
    transform(slice(array_sort(cellCostsL2(e, cents)), lit(1), lit(n)),
      s => s.getField("cell"))

  /** Deterministic IVF-PQ seed centroids: the first `nCells` vectors by id
    * as DOUBLE arrays, cell ids 0..nCells-1 — the [[centroidSeed]] rule in
    * the exact-arithmetic representation the L2/PQ path needs. Trained
    * centroids: `trainPqCodebooks(emb, m = 1, nCells).head` IS a
    * full-vector L2 Lloyd k-means — the m=1 degenerate case. */
  private[ext] def ivfPqSeedCentroids(emb: DataFrame, nCells: Int): Seq[(Int, Seq[Double])] =
    emb.orderBy("vec_id").limit(nCells)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0)).toSeq.zipWithIndex.map { case (v, i) => (i, v) }

  /** Residuals `x − centroid(cell(x))` as `(vec_id, embedding)` double
    * arrays — the training input for residual PQ codebooks
    * (`trainPqCodebooks(ivfResiduals(emb, cents), m, nCodes)`). */
  def ivfResiduals(emb: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val cl = typedLit(cents.sortBy(_._1))
    val e = col("embedding").cast("array<double>")
    emb.select(col("vec_id"), e.as("__e"))
      .select(col("vec_id"),
        array_min(cellCostsL2(col("__e"), cl)).getField("cell").as("__cell"),
        col("__e"))
      .select(col("vec_id"),
        zip_with(col("__e"), element_at(cl, col("__cell") + 1).getField("_2"),
          (x, c) => x - c).as("embedding"))
  }

  /** IVF-PQ ANN (the IVFADC of Jégou et al. 2011 — THE production layout
    * for web-scale vector search): each vector is coarse-quantized to its
    * nearest-by-L2 of `nCells` centroids and product-quantized on its
    * RESIDUAL `x − centroid`; each query probes its `nProbe` nearest cells
    * and scores that cell's members by ADC over the query's own residual
    * against the shared codebooks. Combines [[annIvf]]'s sub-linear scan
    * (~nProbe/nCells of the corpus) with [[annPq]]'s 32×-compressed
    * storage — and upgrades the scoring join from the broadcast nested
    * loop of plain PQ to a broadcast HASH join on `cell_id`.
    *
    * Scale shape: cell assignment + residual encode is ONE narrow scan
    * over the centroid/codebook literals producing `(vec_id, cell_id,
    * codes)`; the query side broadcasts `nProbe` rows per query each
    * carrying its per-cell `m × nCodes` distance table; the only corpus
    * shuffle is the partial top-k. Fully deterministic → SQL oracle
    * (`ann_ivf_pq`); trained centroids/codebooks take the same arguments
    * (spec-gated, like every Lloyd path). */
  def annIvfPq(emb: DataFrame, queries: DataFrame, k: Int = 5,
               nCells: Int = 16, nProbe: Int = 4, m: Int = 8, nCodes: Int = 16,
               centroids: Option[Seq[(Int, Seq[Double])]] = None,
               codebooks: Option[Seq[Seq[(Int, Seq[Double])]]] = None): DataFrame = {
    val cents = centroids.getOrElse(ivfPqSeedCentroids(emb, nCells)).sortBy(_._1)
    val cbs = codebooks.getOrElse {
      // seed codebooks over RESIDUALS of the first nCodes vectors — the
      // deterministic default mirrored by the oracle
      val cl = cents
      val rows = emb.orderBy("vec_id").limit(nCodes)
        .select(col("embedding").cast("array<double>")).collect()
        .map(_.getSeq[Double](0))
      val dim = rows.head.length
      require(dim % m == 0, s"dim $dim must divide into $m subspaces")
      val subDim = dim / m
      def res(v: Seq[Double]): Seq[Double] = {
        val cell = cl.minBy { case (cid, c) =>
          (v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum, cid) }
        v.zip(cell._2).map { case (x, y) => x - y }
      }
      (0 until m).map(mm => rows.toSeq.zipWithIndex.map { case (v, i) =>
        (i, res(v).slice(mm * subDim, mm * subDim + subDim))
      })
    }.map(_.sortBy(_._1))
    val subDim = cbs.head.head._2.length
    val mSub = cbs.length
    val cl = typedLit(cents)
    val cb = typedLit(cbs)
    val e = col("embedding").cast("array<double>")
    val enc = emb
      .select(col("vec_id"),
        array_min(cellCostsL2(e, cl)).getField("cell").as("cell_id"), e.as("__e"))
      .select(col("vec_id"), col("cell_id"),
        pqCodes(
          zip_with(col("__e"), element_at(cl, col("cell_id") + 1).getField("_2"),
            (x, c) => x - c),
          cb, mSub, subDim).as("codes"))
    val qcells = queries
      .select(col("vec_id").as("query_id"), e.as("__q"))
      .select(col("query_id"), col("__q"),
        explode(nearestCellsL2(col("__q"), cl, nProbe)).as("cell_id"))
      .select(col("query_id"), col("cell_id"),
        transform(sequence(lit(0), lit(mSub - 1)), mm =>
          transform(element_at(cb, mm + 1), ent =>
            pqDist(
              slice(zip_with(col("__q"), element_at(cl, col("cell_id") + 1).getField("_2"),
                (x, c) => x - c), mm * subDim + 1, lit(subDim)),
              ent.getField("_2"))))
          .as("dtab"))
    val scored = enc.join(broadcast(qcells), "cell_id")
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        aggregate(
          transform(sequence(lit(0), lit(mSub - 1)), mm =>
            element_at(element_at(col("dtab"), mm + 1),
              element_at(col("codes"), mm + 1) + 1)),
          lit(0.0), (acc, x) => acc + x).as("adist"))
    explodeTopK(
      scored.groupBy("query_id")
        .agg(topkUdaf(k)(col("vec_id"), -col("adist")).as("nb")))
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        (-col("sim")).as("adist"))
  }

  /** IVF-PQ with an exact refine stage (the FAISS `IndexRefineFlat`
    * deployment shape): the compressed [[annIvfPq]] index produces a
    * `kShort`-deep shortlist per query, then ONLY shortlist members are
    * re-scored by exact cosine over their ORIGINAL vectors and cut to the
    * final `k`. ADC distance is lossy (residual quantization error), so
    * production stacks always rerank a small multiple of k exactly —
    * recall of the final list is bounded by the shortlist's, but its
    * ORDERING is exact.
    *
    * Scale shape: the shortlist is |queries|·kShort rows — it (joined with
    * the query vectors) BROADCASTS against one narrow scan of the corpus
    * that fetches candidate vectors by id; the exact rerank then reduces
    * through the partial top-k. The corpus is never shuffled: its two
    * appearances (compressed scoring, vector fetch) are both scans on the
    * probe/build side of broadcast joins. */
  def annIvfPqRefined(emb: DataFrame, queries: DataFrame, k: Int = 5,
                      kShort: Int = 20,
                      nCells: Int = 16, nProbe: Int = 4, m: Int = 8, nCodes: Int = 16,
                      centroids: Option[Seq[(Int, Seq[Double])]] = None,
                      codebooks: Option[Seq[Seq[(Int, Seq[Double])]]] = None): DataFrame = {
    val short = annIvfPq(emb, queries, kShort, nCells, nProbe, m, nCodes,
      centroids, codebooks).select(col("query_id"), col("neighbor_id"))
    val qe = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val pairs = broadcast(short.join(qe, "query_id"))
    val rer = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
      .join(pairs, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        vectors.cosineSim(col("qe"), col("ne")).as("sim"))
    explodeTopK(
      rer.groupBy("query_id")
        .agg(topkUdaf(k)(col("neighbor_id"), col("sim")).as("nb")))
  }

  /** Embedding outlier report: vectors whose cosine distance to their
    * NEAREST cell centroid exceeds the corpus's `1 − frac` quantile — the
    * standard curation probe for corrupt embeddings, encoder failures, and
    * out-of-distribution content (an embedding near no semantic
    * neighborhood is suspect). Narrow per-row cost over the broadcast
    * centroid literal (the [[annIvf]] posture), ONE exact-percentile
    * aggregate collapsing to a single driver double (the
    * `perplexityPartition` acceptance — at 100 TB pass an
    * `approx_percentile` cutoff through the same plan), then a scan-time
    * filter. The max-over-cells is an aggregation of bit-exact cosines —
    * order-independent, so the whole report carries a SQL oracle. */
  def embeddingOutliers(emb: DataFrame, frac: Double = 0.01, nCells: Int = 16,
                        centroids: Option[Seq[(Long, Seq[Float])]] = None): DataFrame = {
    val cents = centroids.map(cs => typedLit(cs)).getOrElse(centroidLit(emb, nCells))
    val cost = emb.select(col("vec_id"),
      (lit(1.0) - array_max(transform(cents,
        c => vectors.cosineSim(col("embedding"), c.getField("_2"))))).as("cost"))
    val cutRow = cost.agg(expr(s"percentile(cost, ${1.0 - frac})")).head()
    // a NULL percentile means an empty corpus — fail loudly, not with a
    // bare unboxing NPE (centroidLit would already have produced an empty
    // literal; this is the first aggregate that can observe it)
    require(!cutRow.isNullAt(0), "embeddingOutliers: empty embedding corpus")
    cost.where(col("cost") > cutRow.getDouble(0))
  }

  /** Cluster-balanced (diversity-preserving) corpus pruning — the
    * cluster-then-cap selection of embedding-space curation (the D4 /
    * DataComp recipe: cluster the corpus, bound each cluster's
    * contribution so over-represented semantic neighborhoods can't
    * dominate the training mix): every vector is assigned to its nearest
    * of `nCells` centroids, and each cell keeps at most `cap` members by
    * deterministic sha256 rank (ties by id) — a reproducible uniform
    * sample WITHIN each semantic cluster, unlike [[Dedup.semdedupPrune]]
    * which removes only pairwise near-duplicates.
    *
    * Scale shape: assignment is a narrow per-row expression over the
    * broadcast centroid literal (no join, no shuffle of the corpus — the
    * [[annIvf]] pattern); the cap is ONE hash-partitioned window on
    * `cell_id` whose sort key is 8 bytes + the id, never a global order.
    * Cell-count skew → more cells ([[Tuning.suggestIvf]]) or a salted
    * two-level cap. Centroids: deterministic id-seed by default, trained
    * ([[trainCentroids]]) via `centroids`. */
  def clusterBalance(emb: DataFrame, cap: Int, nCells: Int = 16,
                     centroids: Option[Seq[(Long, Seq[Float])]] = None): DataFrame = {
    require(cap > 0, "cap must be positive")
    val cents = centroids.map(cs => typedLit(cs)).getOrElse(centroidLit(emb, nCells))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cell_id").orderBy(col("__u"), col("vec_id"))
    emb.select(col("vec_id"),
        nearestCell(col("embedding"), cents).as("cell_id"),
        Hygiene.hashU64(col("vec_id")).as("__u"))
      .withColumn("rank_in_cell", row_number().over(w).cast("long") - 1)
      .where(col("rank_in_cell") < cap)
      .select("vec_id", "cell_id", "rank_in_cell")
  }

  /** In-Context Pretraining document ordering (Shi et al. 2023,
    * arXiv:2310.10638 §2.2): order the training stream so semantically
    * RELATED documents are ADJACENT — the paper's cluster-then-chain
    * construction, where pretraining on such streams improves in-context
    * learning. Output: one `(vec_id, chain_id, pos)` row per vector; a
    * packing pass ([[graft.ext.Hygiene.packGreedy]] keyed on chain_id,
    * ordered by pos) turns chains into context windows.
    *
    * Chain rule (deterministic cross-engine, shared with the SQL oracle):
    * vectors assign to the id-seeded centroids by the IVF rule
    * ([[nearestCell]]: quantized cosine DESC, cell ASC); each cell's walk
    * starts at its smallest vec_id and repeatedly steps to the nearest
    * UNVISITED member — argmax of `quant(cos)·2³² − vec_id` (the
    * composite breaks quantized ties to the smallest id; a
    * null/zero-norm cosine pins to −2·10⁹, walkable but last).
    *
    * Scale: one narrow broadcast assignment pass; each cell's O(m²)
    * greedy walk runs INSIDE that cell's task over the collected cell
    * population — bounded by the √n-cells operating rule
    * ([[graft.ext.Tuning.suggestIvf]]), the lever trading per-task state
    * and walk cost against chain quality. No corpus-wide sequential
    * pass; nothing shuffles but the (vec, cell) assignment.
    *
    * `nCells <= 0` (the default) DERIVES cells ≈ √n from one count —
    * the operating rule is the default, not advice (VERDICT r12 item 9):
    * per-cell population ≈ √n keeps both the collected task state and
    * the O(m²) walk sublinear in corpus size automatically. Pass an
    * explicit positive nCells to pin the geometry (the gate does, so its
    * oracle's centroid seeds never move). */
  def icpOrder(emb: DataFrame, nCells: Int = 0,
               centroids: Option[Seq[(Long, Seq[Float])]] = None): DataFrame = {
    val cells =
      if (nCells > 0) nCells
      else Tuning.suggestIvf(emb.count()).nCells
    val cents = centroids.map(cs => typedLit(cs)).getOrElse(centroidLit(emb, cells))
    emb.select(col("vec_id"), col("embedding"),
        nearestCell(col("embedding"), cents).as("chain_id"))
      .groupBy("chain_id")
      .agg(collect_list(struct(col("vec_id"), col("embedding"))).as("__m"))
      .select(col("chain_id"),
        posexplode(IcpWalk.walkUdf(col("__m"))).as(Seq("pos", "vec_id")))
      .select(col("vec_id"), col("chain_id"), col("pos").cast("long").as("pos"))
  }

  // Gate parameters, interpolated into BOTH the queries-map calls and the
  // oracle SQL below so they can never silently desync.
  private[ext] val GateK = 5
  private[ext] val GateRefineShort = 20
  private[ext] val GateBalanceCap = 10
  private[ext] val GateIvfCells = 16
  private[ext] val GateIvfProbe = 4
  private[ext] val GateQueryMaxId = 10
  private[ext] val GateLshTables = 4
  private[ext] val GateLshBits = 8
  private[ext] val GateLshSeed = 42L
  private[ext] val GateLshDim = 64 // embeddings table dim (TESTDATA.md)
  private[ext] val GatePqM = 8
  private[ext] val GatePqCodes = 16
  private[ext] val GateMrlDims = Seq(8, 32)

  /** The gate's hyperplanes, shared by the queries entry and the SQL oracle
    * (the gate-constant pattern: one source of truth, no silent desync). */
  private lazy val gateLshPlanes: Seq[Seq[Seq[Float]]] =
    hyperplanes(GateLshDim, GateLshTables, GateLshBits, GateLshSeed)

  /** `(t, j, [±1.0, ...])` VALUES rows carrying the identical hyperplane
    * literals into DuckDB — ±1.0 round-trips exactly through SQL text. */
  private def lshPlanesValues: String =
    (for {
      (tp, t) <- gateLshPlanes.zipWithIndex
      (h, j) <- tp.zipWithIndex
    } yield s"($t, $j, [${h.map(v => if (v > 0) "1.0" else "-1.0").mkString(", ")}])")
      .mkString(",\n  ")

  /** Label-relevance retrieval quality over the EXACT cosine top-k:
    * precision@{1,5,k} and MRR@k, with "relevant" = the neighbor shares
    * the query's label — the intrinsic-eval loop for an embedding model
    * (is the index returning same-class items?). MRR is kept EXACT:
    * reciprocal ranks scale by LCM(1..10) = 2520 so every per-query
    * contribution is an integer (2520/r for r ≤ 10 divides evenly), and
    * each emitted metric is ONE correctly-rounded division of integer
    * sums — bit-identical across engines, never a float mean of floats.
    *
    * Scale: rides [[annTopK]]'s broadcast-query shape (corpus never
    * shuffles); the label join touches only the nq·k result rows. */
  def knnLabelMetrics(emb: DataFrame, queries: DataFrame,
                      k: Int = 10): DataFrame = {
    require(k >= 1 && k <= 10, "the LCM-2520 MRR scaling covers k <= 10")
    val topk = annTopK(emb, queries, k)
    val ql = broadcast(queries.select(col("vec_id").as("query_id"),
      col("label").as("__ql")))
    val nl = emb.select(col("vec_id").as("neighbor_id"),
      col("label").as("__nl"))
    val rel = topk.join(ql, Seq("query_id")).join(nl, Seq("neighbor_id"))
      .select(col("query_id"), col("rank"),
        (col("__ql") === col("__nl")).cast("long").as("rel"))
    val perQ = rel.groupBy("query_id").agg(
      sum(when(col("rank") === 1, col("rel")).otherwise(0L)).as("rel1"),
      sum(when(col("rank") <= 5, col("rel")).otherwise(0L)).as("rel5"),
      sum(col("rel")).as("relk"),
      min(when(col("rel") === 1, col("rank"))).as("__fr"))
    // 2520/r is exact for every r ≤ 10; a query with no relevant neighbor
    // contributes 0
    val scaled = perQ.withColumn("__rr",
      coalesce((lit(2520) / col("__fr")).cast("long"), lit(0L)))
    scaled.agg(count(lit(1)).as("n_queries"), sum(col("rel1")).as("s1"),
        sum(col("rel5")).as("s5"), sum(col("relk")).as("sk"),
        sum(col("__rr")).as("sr"))
      .select(col("n_queries"),
        (col("s1").cast("double") / col("n_queries").cast("double"))
          .as("p_at_1"),
        (col("s5").cast("double") /
          (lit(5L) * col("n_queries")).cast("double")).as("p_at_5"),
        (col("sk").cast("double") /
          (lit(k.toLong) * col("n_queries")).cast("double")).as(s"p_at_k"),
        (col("sr").cast("double") /
          (lit(2520L) * col("n_queries")).cast("double")).as("mrr"))
  }

  val queries: Map[String, Q] = Map(
    "ann_topk" -> ((s, dir) => {
      val emb = SparkEntry.table(s, dir, "embeddings")
      annTopK(emb, emb.where(col("vec_id") < GateQueryMaxId), k = GateK)
    }),
    // label-match precision/MRR of the exact index on the 10 gate queries
    "knn_label_metrics" -> ((s, dir) => {
      val emb = SparkEntry.table(s, dir, "embeddings")
      knnLabelMetrics(emb, emb.where(col("vec_id") < GateQueryMaxId), k = 10)
    }),
    // two "languages" = the even/odd id halves; mutual-NN pairs whose
    // margin clears 1.0 (above their own neighborhoods' average)
    "bitext_mine" -> ((s, dir) => {
      val emb = SparkEntry.table(s, dir, "embeddings")
      bitextMine(emb.where(col("vec_id") % 2 === 0),
        emb.where(col("vec_id") % 2 === 1), k = 4, marginThreshold = 1.0)
    }),
    // the measured router: at the gate product (≤10⁷ pairs) it must take
    // the exact path, so the exact oracle applies verbatim; BitextAutoSpec
    // pins the boundary and the IVF side
    "bitext_auto" -> ((s, dir) => {
      val emb = SparkEntry.table(s, dir, "embeddings")
      bitextAuto(emb.where(col("vec_id") % 2 === 0),
        emb.where(col("vec_id") % 2 === 1), k = 4, marginThreshold = 1.0)
    }),
    // the IVF-candidate scale path over the same halves — deterministic
    // id-seeded centroids from the tgt side, full algorithm-mirror oracle
    "bitext_mine_ivf" -> ((s, dir) => {
      val emb = SparkEntry.table(s, dir, "embeddings")
      bitextMineIvf(emb.where(col("vec_id") % 2 === 0),
        emb.where(col("vec_id") % 2 === 1), k = 4, marginThreshold = 1.0,
        nCells = GateIvfCells, nProbe = GateIvfProbe)
    }),
    // int8 scalar quantization: deterministic scales/codes → full SQL
    // oracle; ExtSpec additionally measures recall vs the exact ann_topk
    "ann_sq8" -> ((s, dir) => {
      val emb = SparkEntry.table(s, dir, "embeddings")
      annSq8(emb, emb.where(col("vec_id") < GateQueryMaxId), k = GateK)
    }),
    // bucketed variant: deterministic given the id-ordered centroid seed, so
    // it has a full SQL oracle below; ExtSpec additionally measures recall
    "ann_ivf" -> ((s, dir) => {
      val emb = SparkEntry.table(s, dir, "embeddings")
      annIvf(emb, emb.where(col("vec_id") < GateQueryMaxId), k = GateK,
        nCells = GateIvfCells, nProbe = GateIvfProbe)
    }),
    // recall@k of the IVF path against exact ground truth AS A QUERY — the
    // eval every ANN deployment must run ("measure, don't guess" as a
    // first-class operator, not a spec-only number). Both legs are the
    // already-oracle-gated jobs; the fusion is a tiny top-k-sized join.
    "ann_recall" -> ((s, dir) => {
      val emb = SparkEntry.table(s, dir, "embeddings")
      val exact = annTopK(emb, emb.where(col("vec_id") < GateQueryMaxId), k = GateK)
        .select("query_id", "neighbor_id")
      val ivf = annIvf(emb, emb.where(col("vec_id") < GateQueryMaxId), k = GateK,
          nCells = GateIvfCells, nProbe = GateIvfProbe)
        .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1))
      exact.join(ivf, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(col("hit")).as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          (col("n_hits").cast("double") / lit(GateK)).as("recall"))
    }),
    // sign-hyperplane LSH variant: deterministic buckets (fixed-seed ±1
    // planes shared with the SQL oracle), so it gets a full algorithm-mirror
    // oracle like ann_ivf; ExtSpec additionally measures recall
    "ann_lsh" -> ((s, dir) => {
      val emb = SparkEntry.table(s, dir, "embeddings")
      annLsh(emb, emb.where(col("vec_id") < GateQueryMaxId), k = GateK,
        tables = GateLshTables, bits = GateLshBits, seed = GateLshSeed,
        dim = Some(GateLshDim))
    }),
    // the persistence path (round-7 verdict #6): centroids are SAVED to
    // parquet and RELOADED before querying, so the row proves the durable
    // IVF state round-trips bit-exactly (any corruption breaks the hash
    // gate). The gate uses the deterministic id-seed so the full ann_ivf
    // SQL oracle applies; TRAINED centroids go through the same save/load
    // (ExtSpec pins trained-roundtrip equality — Lloyd means are not
    // SQL-mirrorable without summation-order flake risk).
    // 8 chunk-vectors per synthetic document (vec_id % 500), pooled in
    // vec_id order — the chunk→doc embedding rollup
    "pool_embeddings" -> ((s, dir) =>
      poolEmbeddings(SparkEntry.table(s, dir, "embeddings"),
        pmod(col("vec_id"), lit(500L)))),
    // truncated-serving eval: recall@k of 8-dim and 32-dim prefix cosine
    // against the full 64-dim exact top-k
    "mrl_recall" -> ((s, dir) => {
      val emb = SparkEntry.table(s, dir, "embeddings")
      mrlRecall(emb, emb.where(col("vec_id") < GateQueryMaxId),
        k = GateK, dims = GateMrlDims)
    }),
    // embedding drift: even vec_ids are the "reference" slice, odd the
    // "current" — per-dim centroid shift + the one-row centroid cosine
    "embedding_drift" -> ((s, dir) => {
      val e = SparkEntry.table(s, dir, "embeddings")
      embeddingDrift(e.where(col("vec_id") % 2 === 0),
        e.where(col("vec_id") % 2 === 1))
    }),
    "embedding_drift_summary" -> ((s, dir) => {
      val e = SparkEntry.table(s, dir, "embeddings")
      embeddingDriftSummary(e.where(col("vec_id") % 2 === 0),
        e.where(col("vec_id") % 2 === 1))
    }),
    // 64 → 16 dims; exploded to scalar rows for the cross-engine compare
    "jl_project" -> ((s, dir) =>
      jlProject(SparkEntry.table(s, dir, "embeddings"), outDim = 16)
        .select(col("vec_id"), posexplode(col("jl")).as(Seq("dim", "value")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"), col("value"))),
    // full index lifecycle: persist cell-partitioned assignments, answer
    // from the pruned read — must equal the inline annIvf (same oracle)
    "ann_ivf_indexed" -> ((s, dir) => {
      val emb = SparkEntry.table(s, dir, "embeddings")
      val seed = centroidSeed(emb, GateIvfCells)
      val root = TmpIo.freshDir("graft_ivf_idx")
      try {
        saveIvfIndex(emb, seed, s"$root/idx")
        annIvfIndexed(s, s"$root/idx", seed,
          emb.where(col("vec_id") < GateQueryMaxId),
          k = GateK, nProbe = GateIvfProbe).localCheckpoint(true)
      } finally TmpIo.deleteRecursively(root)
    }),
    "ann_ivf_trained" -> ((s, dir) => {
      val emb = SparkEntry.table(s, dir, "embeddings")
      val seed = centroidSeed(emb, GateIvfCells)
      // per-invocation temp dir: a fixed shared path raced
      // overwrite-against-read across concurrent sessions (ADVICE r8);
      // loadCentroids collects the rows, so the dir is disposable after
      val root = TmpIo.freshDir("graft_ivf_cents")
      val loaded = try {
        saveCentroids(s, seed, s"$root/cents")
        loadCentroids(s, s"$root/cents")
      } finally TmpIo.deleteRecursively(root)
      annIvf(emb, emb.where(col("vec_id") < GateQueryMaxId), k = GateK,
        nCells = GateIvfCells, nProbe = GateIvfProbe, centroids = Some(loaded))
    }),
    // deterministic cells + sha-ranked cap → full SQL oracle; trained
    // centroids take the same code path (ExtSpec covers the swap)
    "embedding_outliers" -> ((s, dir) =>
      embeddingOutliers(SparkEntry.table(s, dir, "embeddings"),
        frac = 0.01, nCells = GateIvfCells)),
    "cluster_balance" -> ((s, dir) =>
      clusterBalance(SparkEntry.table(s, dir, "embeddings"),
        cap = GateBalanceCap, nCells = GateIvfCells)),
    // ICP stream ordering: the full chain table (every vector placed)
    "icp_order" -> ((s, dir) =>
      icpOrder(SparkEntry.table(s, dir, "embeddings"), nCells = GateIvfCells)),
    // PQ/ADC with the deterministic seed codebooks → full algorithm-mirror
    // SQL oracle (encode argmin, query distance tables, ordered-fold ADC);
    // trained codebooks are spec-gated like trainCentroids (Lloyd means are
    // not SQL-mirrorable without summation-order flake risk)
    "ann_pq" -> ((s, dir) => {
      val emb = SparkEntry.table(s, dir, "embeddings")
      annPq(emb, emb.where(col("vec_id") < GateQueryMaxId), k = GateK,
        m = GatePqM, nCodes = GatePqCodes)
    }),
    // the full IVFADC composition (L2 cells + residual PQ + per-cell ADC):
    // seed centroids AND seed residual codebooks are deterministic, so the
    // whole three-stage algorithm carries one SQL oracle
    "ann_ivf_pq" -> ((s, dir) => {
      val emb = SparkEntry.table(s, dir, "embeddings")
      annIvfPq(emb, emb.where(col("vec_id") < GateQueryMaxId), k = GateK,
        nCells = GateIvfCells, nProbe = GateIvfProbe,
        m = GatePqM, nCodes = GatePqCodes)
    }),
    // ADC shortlist at GateRefineShort, exact cosine rerank, cut to GateK
    "ann_ivf_pq_refined" -> ((s, dir) => {
      val emb = SparkEntry.table(s, dir, "embeddings")
      annIvfPqRefined(emb, emb.where(col("vec_id") < GateQueryMaxId),
        k = GateK, kShort = GateRefineShort,
        nCells = GateIvfCells, nProbe = GateIvfProbe,
        m = GatePqM, nCodes = GatePqCodes)
    }),
    // contrastive hard negatives: exact brute force (full oracle) and the
    // IVF-probed scale path (deterministic seed cells → full oracle too)
    "hard_negatives" -> ((s, dir) => {
      val emb = SparkEntry.table(s, dir, "embeddings")
      hardNegatives(emb, emb.where(col("vec_id") < GateQueryMaxId), k = GateK)
    }),
    "hard_negatives_ivf" -> ((s, dir) => {
      val emb = SparkEntry.table(s, dir, "embeddings")
      hardNegativesIvf(emb, emb.where(col("vec_id") < GateQueryMaxId), k = GateK,
        nCells = GateIvfCells, nProbe = GateIvfProbe)
    }),
  )

  /** The deterministic cell-assignment CTE chain (id-seed centroids →
    * quantSim argmax per vector), shared by the `ann_ivf*` and
    * `cluster_balance` oracles — one source of truth for the assignment
    * rule on the SQL side, like [[centroidSeed]] on the engine side. */
  private lazy val assignedCellsSql: String =
    s"""cents AS (
      |  SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cent
      |  FROM embeddings ORDER BY vec_id LIMIT $GateIvfCells),
      |asg AS (
      |  SELECT e.vec_id, e.embedding, e.label, c.cell_id,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      ${quantSimSql(s"list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cent)")} DESC,
      |      c.cell_id) AS rn
      |  FROM embeddings e, cents c),
      |assigned AS (SELECT vec_id, embedding, label, cell_id FROM asg WHERE rn = 1)""".stripMargin

  /** Shared by `ann_ivf` and `ann_ivf_trained` (identical result contract;
    * the latter differs only in taking the centroid save/load round-trip). */
  private lazy val annIvfOracleSql: String =
    s"""WITH $assignedCellsSql,
      |qc AS (
      |  SELECT q.vec_id AS query_id, q.embedding AS qe, c.cell_id,
      |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |      ${quantSimSql(s"list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.cent)")} DESC,
      |      c.cell_id) AS rn
      |  FROM embeddings q, cents c WHERE q.vec_id < $GateQueryMaxId),
      |qcells AS (SELECT query_id, qe, cell_id FROM qc WHERE rn <= $GateIvfProbe),
      |sims AS (
      |  SELECT qs.query_id, a.vec_id,
      |    list_cosine_similarity(CAST(qs.qe AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])) AS sim
      |  FROM qcells qs JOIN assigned a USING (cell_id)
      |  WHERE a.vec_id <> qs.query_id),
      |r AS (SELECT query_id, vec_id AS neighbor_id, sim,
      |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
      |      FROM sims)
      |SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= $GateK""".stripMargin

  /** The full IVFADC oracle parameterized by the rank cut — shared by
    * the `ann_ivf_pq` gate (k = GateK) and the refined gate's shortlist
    * CTE (k = GateRefineShort). */
  private def ivfPqOracleSql(k: Int): String = {
      val sd = GateLshDim / GatePqM
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, emb AS cent
        |          FROM (SELECT * FROM e ORDER BY vec_id LIMIT $GateIvfCells)),
        |vc AS (
        |  SELECT v.vec_id, c.cell,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, $GateLshDim + 1), i ->
        |        (v.emb[i] - c.cent[i]) * (v.emb[i] - c.cent[i]))),
        |      (acc, x) -> acc + x) AS cost
        |  FROM e v, cents c),
        |asg AS (SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY cost, cell) AS rn
        |  FROM vc) WHERE rn = 1),
        |resid AS (
        |  SELECT a.vec_id, list_transform(range(1, $GateLshDim + 1), i -> v.emb[i] - c.cent[i]) AS r
        |  FROM asg a JOIN e v USING (vec_id) JOIN cents c ON c.cell = a.cell),
        |cb AS (
        |  SELECT ms.m, s.code, list_slice(s.r, ms.m * $sd + 1, ms.m * $sd + $sd) AS sub
        |  FROM (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code, r
        |        FROM (SELECT * FROM resid ORDER BY vec_id LIMIT $GatePqCodes)) s,
        |       (SELECT unnest(range(0, $GatePqM)) AS m) ms),
        |cost2 AS (
        |  SELECT vec_id, m, code,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, $sd + 1), i ->
        |        (vsub[i] - sub[i]) * (vsub[i] - sub[i]))),
        |      (acc, x) -> acc + x) AS cost
        |  FROM (SELECT r.vec_id, cb.m, cb.code, cb.sub,
        |          list_slice(r.r, cb.m * $sd + 1, cb.m * $sd + $sd) AS vsub
        |        FROM resid r, cb)),
        |enc AS (SELECT vec_id, m, code FROM (
        |  SELECT vec_id, m, code,
        |    row_number() OVER (PARTITION BY vec_id, m ORDER BY cost, code) AS rn
        |  FROM cost2) WHERE rn = 1),
        |qp AS (SELECT query_id, cell FROM (
        |  SELECT vec_id AS query_id, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cost, cell) AS rn
        |  FROM vc WHERE vec_id < $GateQueryMaxId) WHERE rn <= $GateIvfProbe),
        |qres AS (
        |  SELECT qp.query_id, qp.cell,
        |    list_transform(range(1, $GateLshDim + 1), i -> v.emb[i] - c.cent[i]) AS qr
        |  FROM qp JOIN e v ON v.vec_id = qp.query_id JOIN cents c ON c.cell = qp.cell),
        |qd AS (
        |  SELECT query_id, cell, m, code,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, $sd + 1), i ->
        |        (qsub[i] - sub[i]) * (qsub[i] - sub[i]))),
        |      (acc, x) -> acc + x) AS cost
        |  FROM (SELECT q.query_id, q.cell, cb.m, cb.code, cb.sub,
        |          list_slice(q.qr, cb.m * $sd + 1, cb.m * $sd + $sd) AS qsub
        |        FROM qres q, cb)),
        |pair AS (
        |  SELECT qd.query_id, a.vec_id, qd.m, qd.cost
        |  FROM asg a
        |  JOIN qd ON qd.cell = a.cell
        |  JOIN enc ON enc.vec_id = a.vec_id AND enc.m = qd.m AND enc.code = qd.code
        |  WHERE a.vec_id <> qd.query_id),
        |ad AS (
        |  SELECT query_id, vec_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(cost ORDER BY m)),
        |      (acc, x) -> acc + x) AS adist
        |  FROM pair GROUP BY query_id, vec_id),
        |r AS (SELECT query_id, vec_id AS neighbor_id, adist,
        |        row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS rank
        |      FROM ad)
        |SELECT query_id, neighbor_id, rank, adist FROM r WHERE rank <= $k""".stripMargin
  }

  private lazy val annTopkOracleSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < $GateQueryMaxId),
      |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
      |        list_cosine_similarity(CAST(q.qe AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS sim
      |      FROM q, embeddings e WHERE e.vec_id <> q.query_id),
      |r AS (SELECT query_id, neighbor_id, sim,
      |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      |      FROM s)
      |SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= $GateK""".stripMargin

  /** [[annTopkOracleSql]] with prefix-sliced vectors — the truncated legs
    * of the mrl_recall oracle (same exact-cosine + (sim DESC, id) rank
    * rule over `embedding[1:d]`). */
  private def annTopkSlicedSql(d: Int): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < $GateQueryMaxId),
      |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
      |        list_cosine_similarity(CAST(q.qe[1:$d] AS DOUBLE[]), CAST(e.embedding[1:$d] AS DOUBLE[])) AS sim
      |      FROM q, embeddings e WHERE e.vec_id <> q.query_id),
      |r AS (SELECT query_id, neighbor_id, sim,
      |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      |      FROM s)
      |SELECT query_id, neighbor_id FROM r WHERE rank <= $GateK""".stripMargin

  /** The two corpus halves as src/tgt CTEs — shared by both bitext
    * oracles. */
  private val bitextSidesSql =
    """a AS (SELECT vec_id AS sid, CAST(embedding AS DOUBLE[]) AS e
      |      FROM embeddings WHERE vec_id % 2 = 0),
      |b AS (SELECT vec_id AS tid, CAST(embedding AS DOUBLE[]) AS e
      |      FROM embeddings WHERE vec_id % 2 = 1)""".stripMargin

  /** The mining tail over an open CTE `s(sid, tid, sim)` — same (sim
    * DESC, id) rank rule, rank-order average folds, mutual-best join,
    * margin arithmetic mirrored operation-for-operation. Shared by the
    * exact and IVF oracles so the two cannot drift. */
  private val bitextMineSuffixSql =
    """f AS (SELECT sid, tid, sim,
      |        row_number() OVER (PARTITION BY sid ORDER BY sim DESC, tid) AS rk
      |      FROM s),
      |g AS (SELECT tid, sid, sim,
      |        row_number() OVER (PARTITION BY tid ORDER BY sim DESC, sid) AS rk
      |      FROM s),
      |fa AS (SELECT sid,
      |         list_reduce(list_prepend(CAST(0 AS DOUBLE), list(sim ORDER BY rk)),
      |           (x, y) -> x + y) / count(*) AS avg_src
      |       FROM f WHERE rk <= 4 GROUP BY sid),
      |ga AS (SELECT tid,
      |         list_reduce(list_prepend(CAST(0 AS DOUBLE), list(sim ORDER BY rk)),
      |           (x, y) -> x + y) / count(*) AS avg_tgt
      |       FROM g WHERE rk <= 4 GROUP BY tid),
      |fb AS (SELECT sid, tid, sim FROM f WHERE rk = 1),
      |gb AS (SELECT tid, sid FROM g WHERE rk = 1)
      |SELECT fb.sid AS src_id, fb.tid AS tgt_id, fb.sim AS sim,
      |  fb.sim / (0.5 * avg_src + 0.5 * avg_tgt) AS margin
      |FROM fb JOIN gb ON gb.tid = fb.tid AND gb.sid = fb.sid
      |JOIN fa ON fa.sid = fb.sid
      |JOIN ga ON ga.tid = fb.tid
      |WHERE fb.sim / (0.5 * avg_src + 0.5 * avg_tgt) >= 1.0""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "ann_topk" -> annTopkOracleSql,
    // same (sim DESC, id) rank rule, same LCM-2520 integer reciprocals,
    // same single divisions
    "knn_label_metrics" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS ql
        |  FROM embeddings WHERE vec_id < $GateQueryMaxId),
        |s AS (SELECT q.query_id,
        |    CASE WHEN q.ql = e.label THEN 1 ELSE 0 END AS rel,
        |    row_number() OVER (PARTITION BY q.query_id ORDER BY
        |      list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
        |        CAST(e.embedding AS DOUBLE[])) DESC, e.vec_id) AS rank
        |  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
        |t AS (SELECT query_id,
        |    sum(CASE WHEN rank = 1 THEN rel ELSE 0 END) AS rel1,
        |    sum(CASE WHEN rank <= 5 THEN rel ELSE 0 END) AS rel5,
        |    sum(rel) AS relk,
        |    COALESCE(2520 // min(CASE WHEN rel = 1 THEN rank END), 0) AS rr
        |  FROM s WHERE rank <= 10 GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(sum(rel1) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS p_at_1,
        |  CAST(sum(rel5) AS DOUBLE) / CAST(5 * count(*) AS DOUBLE) AS p_at_5,
        |  CAST(sum(relk) AS DOUBLE) / CAST(10 * count(*) AS DOUBLE) AS p_at_k,
        |  CAST(sum(rr) AS DOUBLE) / CAST(2520 * count(*) AS DOUBLE) AS mrr
        |FROM t""".stripMargin,
    "bitext_mine" ->
      s"""WITH $bitextSidesSql,
        |s AS (SELECT sid, tid, list_cosine_similarity(a.e, b.e) AS sim FROM a, b),
        |$bitextMineSuffixSql""".stripMargin,
    // the router takes the exact path at the gate product → exact oracle
    "bitext_auto" ->
      s"""WITH $bitextSidesSql,
        |s AS (SELECT sid, tid, list_cosine_similarity(a.e, b.e) AS sim FROM a, b),
        |$bitextMineSuffixSql""".stripMargin,
    // candidate pairs from shared IVF cells (tgt-seeded id-ordered
    // centroids, the assignedCellsSql discipline), then the identical
    // mining tail
    "bitext_mine_ivf" ->
      s"""WITH $bitextSidesSql,
        |cents AS (SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cent
        |          FROM embeddings WHERE vec_id % 2 = 1
        |          ORDER BY vec_id LIMIT $GateIvfCells),
        |sr AS (SELECT sid, e, cell_id,
        |         row_number() OVER (PARTITION BY sid ORDER BY
        |           ${quantSimSql("list_cosine_similarity(a.e, c.cent)")} DESC,
        |           c.cell_id) AS rn
        |       FROM a, cents c),
        |tr AS (SELECT tid, e, cell_id,
        |         row_number() OVER (PARTITION BY tid ORDER BY
        |           ${quantSimSql("list_cosine_similarity(b.e, c.cent)")} DESC,
        |           c.cell_id) AS rn
        |       FROM b, cents c),
        |sa AS (SELECT sid, e, cell_id FROM sr WHERE rn = 1),
        |sp AS (SELECT sid, e, cell_id FROM sr WHERE rn <= $GateIvfProbe),
        |ta AS (SELECT tid, e, cell_id FROM tr WHERE rn = 1),
        |tp AS (SELECT tid, e, cell_id FROM tr WHERE rn <= $GateIvfProbe),
        |s AS (SELECT DISTINCT sid, tid, sim FROM (
        |  SELECT sp.sid, ta.tid,
        |    list_cosine_similarity(sp.e, ta.e) AS sim
        |  FROM sp JOIN ta USING (cell_id)
        |  UNION ALL
        |  SELECT sa.sid, tp.tid,
        |    list_cosine_similarity(sa.e, tp.e) AS sim
        |  FROM tp JOIN sa USING (cell_id))),
        |$bitextMineSuffixSql""".stripMargin,
    // algorithm mirror of annSq8: same max|v|/127 scales, the same
    // floor(x/s + ½) round-half-up clamp, cosine over the dequantized
    // doubles (list_cosine_similarity folds dims in the same order as the
    // CosineSim codegen loop — the ann_topk precedent)
    "ann_sq8" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |sc AS (
        |  SELECT dim, max(abs(v)) / 127.0 AS s FROM (
        |    SELECT unnest(emb) AS v, generate_subscripts(emb, 1) AS dim FROM e)
        |  GROUP BY dim),
        |scl AS (SELECT list(s ORDER BY dim) AS scales FROM sc),
        |dq AS (
        |  SELECT vec_id,
        |    list_transform(list_zip(emb, scales),
        |      x -> CASE WHEN x[2] = 0 THEN 0.0
        |           ELSE greatest(least(floor(x[1] / x[2] + 0.5), 127.0), -127.0) * x[2] END) AS d
        |  FROM e, scl),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        list_cosine_similarity(q.d, c.d) AS sim
        |      FROM (SELECT * FROM dq WHERE vec_id < $GateQueryMaxId) q, dq c
        |      WHERE c.vec_id <> q.vec_id),
        |r AS (SELECT query_id, neighbor_id, sim,
        |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM s)
        |SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= $GateK""".stripMargin,
    // annIvf is fully deterministic (centroids = first nCells ids; the
    // assignment ORDER key is the shared quantSim integer on both sides;
    // ties break to the smallest cell), so the bucketed path gets a
    // REAL SQL oracle mirroring the algorithm — assignment, probing, and
    // within-cell exact search — not a recall spec.
    "ann_ivf" -> annIvfOracleSql,
    // identical result contract: ann_ivf_trained runs the same algorithm
    // with centroids that took the parquet save/load round-trip, so the
    // same oracle applies — a byte difference in the reloaded state would
    // break the hash match
    "ann_ivf_trained" -> annIvfOracleSql,
    "ann_ivf_indexed" -> annIvfOracleSql,
    // identical fixed-order double fold and identical integer sign
    // pattern — bit-equality is the point
    "jl_project" ->
      """WITH g AS (SELECT vec_id, embedding, unnest(range(0, 16)) AS j
        |           FROM embeddings)
        |SELECT vec_id, CAST(j AS BIGINT) AS dim,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(range(0, len(embedding)),
        |      i -> CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) *
        |           (1.0 - 2.0 * (((i * 1103515245 + j * 12345 + 6789) // 65536) % 2)))),
        |    (a, b) -> a + b) / sqrt(16.0) AS value
        |FROM g""".stripMargin,
    // per dim d: the exact top-k leg LEFT JOINed with its [1:d]-sliced
    // twin (both the proven exact-cosine rank rule), one UNION ALL branch
    // per candidate dim; recall is one division of an exact count
    "mrl_recall" -> GateMrlDims.map(d =>
      s"""SELECT CAST($d AS BIGINT) AS dim_kept, ex.query_id,
        |  count(tr.neighbor_id) AS n_hits,
        |  CAST(count(tr.neighbor_id) AS DOUBLE) / $GateK AS recall
        |FROM ( $annTopkOracleSql ) ex
        |LEFT JOIN ( ${annTopkSlicedSql(d)} ) tr
        |  ON tr.query_id = ex.query_id AND tr.neighbor_id = ex.neighbor_id
        |GROUP BY ex.query_id""".stripMargin).mkString("\nUNION ALL\n"),
    // the pool_embeddings TWO-LEVEL ordered-fold discipline per (side,
    // dim) — fixed 4096-id chunks folded in id order, chunk partials
    // folded in chunk order (the identical fold tree to the engine) —
    // then a dim-join pivot; abs() is one IEEE op on deterministic means
    "embedding_drift" ->
      """WITH e AS (
        |  SELECT CASE WHEN vec_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS side,
        |    vec_id, g.d AS dim,
        |    CAST(embedding[CAST(g.d + 1 AS INT)] AS DOUBLE) AS v
        |  FROM embeddings, LATERAL unnest(range(0, len(embedding))) AS g(d)),
        |ck AS (SELECT side, dim, vec_id // 4096 AS ck, count(*) AS n,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(v ORDER BY vec_id)),
        |      (a, b) -> a + b) AS s
        |  FROM e GROUP BY side, dim, vec_id // 4096),
        |m AS (SELECT side, dim,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(s ORDER BY ck)),
        |      (a, b) -> a + b) / sum(n) AS mean
        |  FROM ck GROUP BY side, dim)
        |SELECT r.dim AS dim, r.mean AS ref_mean, c.mean AS cur_mean,
        |  abs(c.mean - r.mean) AS abs_shift
        |FROM m r JOIN m c ON r.dim = c.dim
        |WHERE r.side = 'ref' AND c.side = 'cur'""".stripMargin,
    // the per-dim table folded in dim order — a fixed 64-term IEEE chain
    "embedding_drift_summary" ->
      """WITH e AS (
        |  SELECT CASE WHEN vec_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS side,
        |    vec_id, g.d AS dim,
        |    CAST(embedding[CAST(g.d + 1 AS INT)] AS DOUBLE) AS v
        |  FROM embeddings, LATERAL unnest(range(0, len(embedding))) AS g(d)),
        |ck AS (SELECT side, dim, vec_id // 4096 AS ck, count(*) AS n,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(v ORDER BY vec_id)),
        |      (a, b) -> a + b) AS s
        |  FROM e GROUP BY side, dim, vec_id // 4096),
        |m AS (SELECT side, dim,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(s ORDER BY ck)),
        |      (a, b) -> a + b) / sum(n) AS mean
        |  FROM ck GROUP BY side, dim),
        |j AS (SELECT r.dim AS dim, r.mean AS rm, c.mean AS cm
        |  FROM m r JOIN m c ON r.dim = c.dim
        |  WHERE r.side = 'ref' AND c.side = 'cur'),
        |s AS (SELECT
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(rm * cm ORDER BY dim)), (a, b) -> a + b) AS dot,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(rm * rm ORDER BY dim)), (a, b) -> a + b) AS nr,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(cm * cm ORDER BY dim)), (a, b) -> a + b) AS nc
        |  FROM j)
        |SELECT CASE WHEN nr = 0.0 OR nc = 0.0 THEN NULL
        |         ELSE dot / (sqrt(nr) * sqrt(nc)) END AS centroid_cos,
        |  sqrt(nr) AS ref_norm, sqrt(nc) AS cur_norm
        |FROM s""".stripMargin,
    // the same TWO-LEVEL ordered fold per (group, dim): fixed 4096-id
    // chunks folded in id order, chunk partials folded in chunk order —
    // never an unordered SUM of floats, never unbounded per-group state
    "pool_embeddings" ->
      """WITH e AS (
        |  SELECT vec_id % 500 AS grp, vec_id,
        |    g.d AS dim, CAST(embedding[CAST(g.d + 1 AS INT)] AS DOUBLE) AS v
        |  FROM embeddings, LATERAL unnest(range(0, len(embedding))) AS g(d)),
        |ck AS (SELECT grp, dim, vec_id // 4096 AS ck, count(*) AS n,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(v ORDER BY vec_id)),
        |      (a, b) -> a + b) AS s
        |  FROM e GROUP BY grp, dim, vec_id // 4096)
        |SELECT grp, dim,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(s ORDER BY ck)),
        |    (a, b) -> a + b) / sum(n) AS mean
        |FROM ck GROUP BY grp, dim""".stripMargin,
    // composition of the two gated legs (WITH-in-subquery keeps their CTE
    // namespaces separate); n_hits/GateK is one IEEE division — exact
    "ann_recall" ->
      s"""SELECT ex.query_id, count(iv.neighbor_id) AS n_hits,
        |       CAST(count(iv.neighbor_id) AS DOUBLE) / $GateK AS recall
        |FROM ( $annTopkOracleSql ) ex
        |LEFT JOIN ( $annIvfOracleSql ) iv
        |  ON iv.query_id = ex.query_id AND iv.neighbor_id = ex.neighbor_id
        |GROUP BY ex.query_id""".stripMargin,
    // algorithm mirror of annLsh: identical ±1.0 hyperplane literals, the
    // same quantSim(cos) ≥ 0 bit rule, per-table bucket-equality
    // candidates, exact cosine + top-k on survivors
    "ann_lsh" ->
      s"""WITH planes(t, j, h) AS (VALUES
        |  $lshPlanesValues),
        |sig AS (
        |  SELECT e.vec_id, p.t,
        |    SUM(CASE WHEN ${quantSimSql(s"list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.h)")} >= 0
        |             THEN (CAST(1 AS BIGINT) << p.j) ELSE 0 END) AS bucket
        |  FROM embeddings e, planes p GROUP BY e.vec_id, p.t),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS query_id, s.vec_id
        |  FROM sig s JOIN (SELECT * FROM sig WHERE vec_id < $GateQueryMaxId) q
        |    ON s.t = q.t AND s.bucket = q.bucket AND s.vec_id <> q.vec_id),
        |sims AS (
        |  SELECT c.query_id, c.vec_id,
        |    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[])) AS sim
        |  FROM cand c
        |  JOIN embeddings qe ON qe.vec_id = c.query_id
        |  JOIN embeddings ce ON ce.vec_id = c.vec_id),
        |r AS (SELECT query_id, vec_id AS neighbor_id, sim,
        |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
        |      FROM sims)
        |SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= $GateK""".stripMargin,
    // full algorithm mirror of annPq over the seed codebooks: the same
    // id-ordered codeword slices, per-(vec, subspace) argmin by
    // (cost ASC, code ASC), per-query distance tables, and the ADC sum as
    // an m-ordered list_reduce fold — every double identical to Spark's
    // fixed-order aggregate() fold, so the hash gate holds bit-exact
    "ann_pq" -> {
      val sd = GateLshDim / GatePqM
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |seed AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code, emb
        |         FROM (SELECT * FROM e ORDER BY vec_id LIMIT $GatePqCodes)),
        |cb AS (SELECT ms.m, seed.code,
        |         list_slice(seed.emb, ms.m * $sd + 1, ms.m * $sd + $sd) AS sub
        |       FROM seed, (SELECT unnest(range(0, $GatePqM)) AS m) ms),
        |cost AS (
        |  SELECT vec_id, m, code,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, $sd + 1), i ->
        |        (vsub[i] - sub[i]) * (vsub[i] - sub[i]))),
        |      (acc, x) -> acc + x) AS cost
        |  FROM (SELECT v.vec_id, cb.m, cb.code, cb.sub,
        |          list_slice(v.emb, cb.m * $sd + 1, cb.m * $sd + $sd) AS vsub
        |        FROM e v, cb)),
        |enc AS (
        |  SELECT vec_id, m, code FROM (
        |    SELECT vec_id, m, code,
        |      row_number() OVER (PARTITION BY vec_id, m ORDER BY cost, code) AS rn
        |    FROM cost) WHERE rn = 1),
        |qd AS (SELECT vec_id AS query_id, m, code, cost FROM cost
        |       WHERE vec_id < $GateQueryMaxId),
        |pair AS (
        |  SELECT qd.query_id, enc.vec_id, qd.m, qd.cost
        |  FROM enc JOIN qd ON qd.m = enc.m AND qd.code = enc.code
        |  WHERE enc.vec_id <> qd.query_id),
        |ad AS (
        |  SELECT query_id, vec_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(cost ORDER BY m)),
        |      (acc, x) -> acc + x) AS adist
        |  FROM pair GROUP BY query_id, vec_id),
        |r AS (SELECT query_id, vec_id AS neighbor_id, adist,
        |        row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS rank
        |      FROM ad)
        |SELECT query_id, neighbor_id, rank, adist FROM r WHERE rank <= $GateK""".stripMargin
    },
    // full IVFADC mirror: seed L2 cells (fixed-order fold costs, ties to the
    // smaller cell), residuals, seed residual codebooks, residual encode,
    // per-(query, probed-cell) distance tables, m-ordered ADC fold
    "ann_ivf_pq" -> ivfPqOracleSql(GateK),
    // the shortlist CTE is the full IVFADC oracle at kShort (WITH-in-
    // subquery namespacing, the ann_recall pattern); rerank mirrors the
    // exact-cosine ann_topk arithmetic. Composed WITHOUT stripMargin: the
    // interpolated inner oracle is already margin-free.
    "ann_ivf_pq_refined" ->
      ("WITH short AS (SELECT query_id, neighbor_id FROM (\n" +
        ivfPqOracleSql(GateRefineShort) + "\n)),\n" +
        "p AS (SELECT s.query_id, s.neighbor_id,\n" +
        "  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])) AS sim\n" +
        "  FROM short s JOIN embeddings q ON q.vec_id = s.query_id\n" +
        "               JOIN embeddings n ON n.vec_id = s.neighbor_id),\n" +
        "r AS (SELECT query_id, neighbor_id, sim,\n" +
        "        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank\n" +
        "      FROM p)\n" +
        s"SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= $GateK"),
    // max-over-cells of bit-exact cosines (order-independent), exact
    // quantile cutoff (Spark percentile == quantile_cont, the
    // perplexity_partition precedent), scan-time filter
    "embedding_outliers" ->
      s"""WITH cents AS (
        |  SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cent
        |  FROM embeddings ORDER BY vec_id LIMIT $GateIvfCells),
        |cost AS (
        |  SELECT e.vec_id,
        |    1.0 - max(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cent)) AS cost
        |  FROM embeddings e, cents c GROUP BY e.vec_id),
        |cut AS (SELECT quantile_cont(cost, 0.99) AS q FROM cost)
        |SELECT vec_id, cost FROM cost, cut WHERE cost > q""".stripMargin,
    // the same assignment CTE, then the greedy walk as a recursive CTE:
    // anchor = each cell's smallest id, step = the correlated argmax of
    // the composite quant(cos)*2^32 - id key over unvisited members —
    // bit-identical to IcpWalk by the shared cosine fold + floor rule
    "icp_order" ->
      s"""WITH RECURSIVE $assignedCellsSql,
        |pairs AS (
        |  SELECT a.cell_id, a.vec_id AS a, b.vec_id AS b,
        |    COALESCE(CASE WHEN isnan(list_cosine_similarity(
        |        CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))
        |      THEN 2000000000 ELSE CAST(floor(list_cosine_similarity(
        |        CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        |        * 1e9 + 0.5) AS BIGINT) END, -2000000000)
        |      * 4294967296 - b.vec_id AS key
        |  FROM assigned a JOIN assigned b
        |    ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id),
        |walk(cell_id, cur, visited, pos) AS (
        |  SELECT cell_id, min(vec_id), [min(vec_id)], CAST(0 AS BIGINT)
        |  FROM assigned GROUP BY cell_id
        |  UNION ALL
        |  SELECT w.cell_id, p.b, list_append(w.visited, p.b), w.pos + 1
        |  FROM walk w JOIN pairs p
        |    ON p.cell_id = w.cell_id AND p.a = w.cur
        |   AND NOT list_contains(w.visited, p.b)
        |  WHERE p.key = (SELECT max(p2.key) FROM pairs p2
        |                 WHERE p2.cell_id = w.cell_id AND p2.a = w.cur
        |                   AND NOT list_contains(w.visited, p2.b)))
        |SELECT cur AS vec_id, cell_id AS chain_id, pos FROM walk""".stripMargin,
    // the same assignment CTE, then the sha256-ranked per-cell cap
    "cluster_balance" ->
      s"""WITH $assignedCellsSql,
        |r AS (
        |  SELECT vec_id, cell_id,
        |    CAST(row_number() OVER (PARTITION BY cell_id ORDER BY
        |      CAST(('0x' || substring(sha256(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT),
        |      vec_id) - 1 AS BIGINT) AS rank_in_cell
        |  FROM assigned)
        |SELECT vec_id, cell_id, rank_in_cell FROM r
        |WHERE rank_in_cell < $GateBalanceCap""".stripMargin,
    // ann_topk with the label-mismatch predicate: the negatives are exact
    // by definition, so the brute-force mirror IS the algorithm
    "hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS qlabel
        |           FROM embeddings WHERE vec_id < $GateQueryMaxId),
        |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |        list_cosine_similarity(CAST(q.qe AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS sim
        |      FROM q, embeddings e
        |      WHERE e.vec_id <> q.query_id AND e.label <> q.qlabel),
        |r AS (SELECT query_id, neighbor_id, sim,
        |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM s)
        |SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= $GateK""".stripMargin,
    // the ann_ivf mirror with anchor labels carried through the probe and
    // the mismatch predicate applied where the engine applies it (after the
    // cell equi-join, before top-k)
    "hard_negatives_ivf" ->
      s"""WITH $assignedCellsSql,
        |qc AS (
        |  SELECT q.vec_id AS query_id, q.embedding AS qe, q.label AS qlabel, c.cell_id,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      ${quantSimSql(s"list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.cent)")} DESC,
        |      c.cell_id) AS rn
        |  FROM embeddings q, cents c WHERE q.vec_id < $GateQueryMaxId),
        |qcells AS (SELECT query_id, qe, qlabel, cell_id FROM qc WHERE rn <= $GateIvfProbe),
        |sims AS (
        |  SELECT qs.query_id, a.vec_id,
        |    list_cosine_similarity(CAST(qs.qe AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])) AS sim
        |  FROM qcells qs JOIN assigned a USING (cell_id)
        |  WHERE a.vec_id <> qs.query_id AND a.label <> qs.qlabel),
        |r AS (SELECT query_id, vec_id AS neighbor_id, sim,
        |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
        |      FROM sims)
        |SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= $GateK""".stripMargin,
  )
}

/** The per-cell greedy nearest-neighbor walk behind [[Similarity.icpOrder]]
  * — plain JVM code running inside ONE task per cell (cell populations are
  * the √n-bounded IVF state, so the O(m²) walk and the m-vector buffer are
  * task-bounded by construction, never corpus-scale).
  *
  * Arithmetic is the exact [[graft.functions.CosineSim]] sequential fold
  * (Float→Double, dot/(√na·√nb)) and the exact quantization rule
  * `floor(cos·10⁹ + 0.5)` shared with every ANN oracle, so the walk is
  * bit-identical to the DuckDB recursive-CTE oracle. A NaN cosine pins to
  * +2·10⁹ (walkable — the generic Long.MaxValue pin would overflow the
  * composite `quant·2³² − vec_id` step key on both engines), zero norms
  * follow DuckDB's `list_cosine_similarity` convention of −1.0, and a
  * NULL embedding (which `collect_list(struct(...))` keeps — only a NULL
  * *struct* is dropped) or the by-construction-impossible empty/
  * mismatched-length case pins to −2·10⁹: walkable but last, matching the
  * oracle's `COALESCE(cos, -2e9)`. */
private[ext] object IcpWalk {
  private[ext] def quantCos(a: Seq[Float], b: Seq[Float]): Long = {
    // a NULL embedding survives collect_list(struct(...)) into the walk;
    // pin it to the same walkable-but-last key the oracle COALESCEs to
    if (a == null || b == null) return -2000000000L
    val n = a.length
    if (n != b.length || n == 0) return -2000000000L
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    // DuckDB's list_cosine_similarity returns -1.0 for zero norms
    // (measured), so the quantized walk key matches: quant(-1.0)
    if (denom == 0.0) -1000000000L
    else {
      val c = dot / denom
      if (c.isNaN) 2000000000L else math.floor(c * 1e9 + 0.5).toLong
    }
  }

  /** Ordered member ids of one cell's chain. */
  private[ext] def chain(ids: Array[Long],
                         embs: Array[Seq[Float]]): Seq[Long] = {
    val m = ids.length
    if (m == 0) return Nil
    val used = new Array[Boolean](m)
    val out = new Array[Long](m)
    var cur = 0
    for (i <- 1 until m) if (ids(i) < ids(cur)) cur = i
    used(cur) = true; out(0) = ids(cur)
    for (step <- 1 until m) {
      var best = -1; var bestKey = Long.MinValue
      for (j <- 0 until m) if (!used(j)) {
        val key = quantCos(embs(cur), embs(j)) * 4294967296L - ids(j)
        if (key > bestKey) { bestKey = key; best = j }
      }
      used(best) = true; out(step) = ids(best); cur = best
    }
    out.toSeq
  }

  private[ext] val walkUdf =
    org.apache.spark.sql.functions.udf((members: Seq[org.apache.spark.sql.Row]) => {
      val ids = members.map(_.getLong(0)).toArray
      val embs = members.map(_.getSeq[Float](1)).toArray
      chain(ids, embs)
    })
}
