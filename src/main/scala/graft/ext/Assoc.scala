package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** Market-basket co-occurrence mining — support / confidence / lift over
  * (basket, item) pairs, the "frequently bought together" primitive a
  * recommendation or data-curation pipeline runs over order logs, co-click
  * streams, or document–entity tables (association-rule metrics per
  * Agrawal et al., SIGMOD 1993, computed exactly rather than via the
  * candidate-generation Apriori machinery — at the pair (2-itemset) level
  * a single aggregation IS the exact answer).
  *
  * Plan shape at 100 TB:
  *  - ONE shuffle of the distinct (basket, item) pairs to basket keys;
  *    each basket's items become one SORTED array and the pair explosion
  *    `{(a,b) : a < b}` is NARROW (bounded by `maxBasketItems`² per row —
  *    the cap is the skew guard: a degenerate mega-basket, e.g. a crawler
  *    account touching every item, would otherwise explode quadratically
  *    and its pairs are noise for association purposes anyway; capped-out
  *    baskets are DROPPED whole, deterministically, and excluded from the
  *    basket total so every metric stays exact over the retained set).
  *  - The pair stream partial-aggregates map-side into (a, b) counts —
  *    far smaller than the explosion — then two joins attach the item
  *    marginals (AQE broadcasts the marginal side when the item catalog
  *    is small; at catalog scale they are shuffle joins on already
  *    pair-collapsed data).
  *  - Metrics are single IEEE-double divisions of exact BIGINT counts
  *    (lift's cross-products are multiplied in DOUBLE — each factor is
  *    exact below 2^53, where a BIGINT product would overflow at
  *    web-event scale; the oracle mirrors the operation order).
  */
object Assoc {
  private type Q = (SparkSession, String) => DataFrame

  /** The capped, deduplicated, sorted basket table — the shared root of
    * the one-shot and maintained forms. NOT spread (r19 A/B, min-of-7 in
    * one JVM, cross-checked against the old code on a comparable window):
    * `Dedup.spread(rows)` made item_cooc 1.48 → 2.30 s — the sort-scoped
    * partial collect_set is NOT single-task-bound here, and the keyless
    * round-robin exchange pays a full local sort of the 600 K input rows
    * (sortBeforeRepartition) to buy parallelism the basket exchange
    * already provides. */
  private def cappedBaskets(rows: DataFrame, basket: Column, item: Column,
                            maxBasketItems: Int): DataFrame =
    rows.select(basket.as("basket"), item.as("item"))
      .groupBy("basket")
      .agg(sort_array(collect_set(col("item"))).as("items"))
      .where(size(col("items")) <= maxBasketItems)

  /** EVERY sufficient statistic in ONE corpus pass: per basket row, one
    * explode emits its `{(a,b) : a < b}` pair structs, its item-marginal
    * structs, and one basket-total marker; a single (kind, a, b) count
    * aggregation (partial-agged map-side) produces the combined
    * `(kind ∈ p/i/n, a, b, n)` table — the [[BatchState]] encoding
    * [[absorbCoocBatch]] snapshots. The previous shape unioned three
    * separate consumers of the basket table (pairs, marginals, total):
    * ReuseExchange shared the basket shuffle but each branch re-ran the
    * corpus-sized post-shuffle aggregation — 4 basket-table passes per
    * query once the marginal table was joined twice (JobProbe r14). */
  private def coocCounts(baskets: DataFrame): DataFrame = {
    val itemType = baskets.schema("items").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val nullItem = lit(null).cast(itemType)
    // the row KIND (pair / item marginal / basket total) is a bijection of
    // the (a, b) null pattern — items are non-null by construction
    // (collect_set drops nulls) — so it is DERIVED after the aggregation
    // instead of shuffled: the former tinyint tag cost a full 8-byte
    // UnsafeRow slot and a third grouping column on the ~1.7M-row
    // mostly-unique pair exchange (r19, guide §2.3 narrower shuffle keys)
    // BIGINT items (every gate) take the native [[graft.functions
    // .CoocStructs]] generator — the HOF chain below evaluates its lambdas
    // interpreted per element, which dominated the ~1.7M-struct explosion
    // (r15 probe); AssocNativeSpec pins the two forms equal
    val gen: Column =
      if (itemType == org.apache.spark.sql.types.LongType)
        graft.functions.CoocStructs.coocStructs(col("items"))
      else concat(
        flatten(transform(col("items"), (a, i) =>
          transform(slice(col("items"), i + 2, size(col("items"))), b =>
            struct(a.as("a"), b.as("b"))))),
        transform(col("items"), a =>
          struct(a.as("a"), nullItem.as("b"))),
        array(struct(nullItem.as("a"), nullItem.as("b"))))
    baskets
      .select(explode(gen).as("t"))
      .groupBy(col("t.a").as("a"), col("t.b").as("b"))
      .agg(count(lit(1)).as("n"))
      .select(when(col("a").isNull, "n").when(col("b").isNull, "i")
        .otherwise("p").as("kind"), col("a"), col("b"), col("n"))
  }

  /** Slice the combined count table back into the metric inputs. */
  private def countSlices(comp: DataFrame): (DataFrame, DataFrame, DataFrame) = (
    comp.where(col("kind") === "p")
      .select(col("a").as("item_a"), col("b").as("item_b"), col("n").as("n_pairs")),
    comp.where(col("kind") === "i")
      .select(col("a").as("item"), col("n").as("n_item")),
    comp.where(col("kind") === "n").select(col("n").as("n_baskets")))

  /** The metric derivation over consistent (pairs, marginals, total)
    * inputs — see [[itemCooc]] for the arithmetic contract. */
  private def metrics(pairs: DataFrame, items: DataFrame, nBaskets: DataFrame,
                      minPairCount: Long): DataFrame = {
    val p = pairs.where(col("n_pairs") >= minPairCount)
    p.join(items.withColumnRenamed("n_item", "n_a"),
        p("item_a") === items("item"))
      .drop("item")
      .join(items.withColumnRenamed("n_item", "n_b"),
        p("item_b") === items("item"))
      .drop("item")
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("n_pairs"),
        col("n_a"), col("n_b"),
        (col("n_pairs").cast("double") / col("n_baskets").cast("double"))
          .as("support"),
        (col("n_pairs").cast("double") / col("n_a").cast("double"))
          .as("conf_a_to_b"),
        (col("n_pairs").cast("double") / col("n_b").cast("double"))
          .as("conf_b_to_a"),
        ((col("n_pairs").cast("double") * col("n_baskets").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
  }

  /** Pairwise association metrics over `(basket, item)` rows.
    *
    * Returns one row per unordered item pair `(item_a < item_b)` seen in
    * at least `minPairCount` retained baskets: the pair count, both item
    * marginal counts, `support = n_ab / N`, directional confidences, and
    * `lift = n_ab·N / (n_a·n_b)` (N = retained-basket count).
    *
    * All statistics come from [[coocCounts]]' single corpus pass: the
    * three metric branches filter the SAME (kind, a, b) aggregation
    * subtree, so everything up to and including its exchange — scan,
    * basket aggregation, pair explosion, partial agg — is deduplicated
    * by ReuseExchange, and only the compact post-exchange final agg runs
    * per branch. (Both materialization alternatives measured slower:
    * checkpointing the basket table is corpus-sized I/O, and
    * checkpointing the count table is NOT small when most pairs are
    * unique — 1.2M rows at sf0.1, +1 s over exchange reuse.) Growth is
    * sub-linear at fixed parallelism: sf0.1 replicated 30× ran 23.6× the
    * 1× time idle (exponent 0.93), and 128 or 256 shuffle partitions
    * instead of 32 changed nothing on one machine (r16). */
  def itemCooc(rows: DataFrame, basket: Column, item: Column,
               minPairCount: Long = 2L, maxBasketItems: Int = 256): DataFrame = {
    require(minPairCount >= 1 && maxBasketItems >= 2,
      "minPairCount must be >= 1 and maxBasketItems >= 2")
    val baskets = cappedBaskets(rows, basket, item, maxBasketItems)
    val (pairs, items, total) = countSlices(coocCounts(baskets))
    sortAggScope(metrics(pairs, items, total, minPairCount))
  }

  /** The ONLY ObjectHashAggregate in the cooc plans is the basket
    * `collect_set` — growable buffers over many groups, the sort-path
    * shape ([[ConfScope.sortBasedAgg]]; r15 CoocProbe A/B −0.4 s). */
  private def sortAggScope(df: DataFrame): DataFrame =
    ConfScope.sortBasedAgg(df)

  /** MAINTAINED co-occurrence over continuous basket ingest: pair counts,
    * item marginals, and the basket total are all ADDITIVE over
    * basket-atomic batches, so the state is exactly those three count
    * tables (encoded as one `(kind, a, b, n)` table for the
    * [[BatchState]] snapshot) and merge = union + re-sum. Each absorption
    * returns the full metric table over everything ingested so far —
    * EQUAL to the one-shot [[itemCooc]] of the union (driver-gated), with
    * replayed batches recomputing against the pre-batch snapshot
    * (exactly-once via `_SUCCESS`-gated snapshots).
    *
    * Precondition: each basket arrives WHOLE in one batch (a closed
    * order/session). A basket split across batches would need its raw
    * items in state — corpus-sized — where this state is the pair/item
    * count tables: the catalog-bounded sufficient statistic.
    *
    * State size: distinct observed pairs + items + 1; merging is a
    * partial-agged groupBy, never a driver collect. */
  def absorbCoocBatch(spark: SparkSession, stateDir: String, batchId: Long,
                      rows: DataFrame, basket: Column, item: Column,
                      minPairCount: Long = 2L, maxBasketItems: Int = 256): DataFrame = {
    val (latest, lastId) = BatchState.load(spark, stateDir)
    val replay = lastId.exists(_ >= batchId)
    val base = if (replay) BatchState.load(spark, stateDir, Some(batchId))._1 else latest
    val bk = cappedBaskets(rows, basket, item, maxBasketItems)
    val comp = coocCounts(bk) // the batch's statistics in one corpus pass
    val merged = sortAggScope(base.map(_.unionByName(comp)).getOrElse(comp)
      .groupBy("kind", "a", "b").agg(sum(col("n")).as("n")))
      .localCheckpoint(true)
    if (!replay) BatchState.save(merged, stateDir, batchId)
    val (pairs, items, total) = countSlices(merged)
    metrics(pairs, items, total, minPairCount)
  }

  /** Continuous co-occurrence maintenance over a streaming basket source. */
  def coocStream(rows: DataFrame, stateDir: String, basket: Column, item: Column,
                 minPairCount: Long = 2L, maxBasketItems: Int = 256)
                (sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      sink(absorbCoocBatch(batch.sparkSession, stateDir, id, batch,
        basket, item, minPairCount, maxBasketItems))
    }

  val queries: Map[String, Q] = Map(
    // parts ordered together: baskets = orders, items = parts; pairs seen
    // in >= 2 orders
    "item_cooc" -> ((s, dir) =>
      itemCooc(SparkEntry.table(s, dir, "lineitem"),
        col("l_orderkey"), col("l_partkey"))),
    // the maintained table after two basket-atomic absorptions (orders
    // split by key parity) must equal the one-shot computation — same
    // oracle as item_cooc
    "cooc_maintained" -> ((s, dir) => {
      val li = SparkEntry.table(s, dir, "lineitem")
      val root = TmpIo.freshDir("coocstate")
      try {
        absorbCoocBatch(s, root.toString, 0L,
          li.where(col("l_orderkey") % 2 === 0), col("l_orderkey"), col("l_partkey"))
        absorbCoocBatch(s, root.toString, 1L,
          li.where(col("l_orderkey") % 2 === 1), col("l_orderkey"), col("l_partkey"))
          .localCheckpoint(true)
      } finally TmpIo.deleteRecursively(root)
    }),
  )

  private val coocOracle =
      """WITH b AS (
        |  SELECT l_orderkey AS basket, list_sort(list(DISTINCT l_partkey)) AS items
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING count(DISTINCT l_partkey) <= 256),
        |n AS (SELECT count(*) AS n_baskets FROM b),
        |ic AS (SELECT item, count(*) AS n_item
        |       FROM (SELECT unnest(items) AS item FROM b) GROUP BY item),
        |p AS (
        |  -- items are DISTINCT per basket, so value order == position order
        |  SELECT item_a, item_b, count(*) AS n_pairs
        |  FROM (SELECT basket, unnest(items) AS item_a FROM b) u
        |  JOIN (SELECT basket, unnest(items) AS item_b FROM b) v USING (basket)
        |  WHERE item_b > item_a
        |  GROUP BY item_a, item_b
        |  HAVING count(*) >= 2)
        |SELECT item_a, item_b, n_pairs, a.n_item AS n_a, b2.n_item AS n_b,
        |  CAST(n_pairs AS DOUBLE) / CAST(n_baskets AS DOUBLE) AS support,
        |  CAST(n_pairs AS DOUBLE) / CAST(a.n_item AS DOUBLE) AS conf_a_to_b,
        |  CAST(n_pairs AS DOUBLE) / CAST(b2.n_item AS DOUBLE) AS conf_b_to_a,
        |  (CAST(n_pairs AS DOUBLE) * CAST(n_baskets AS DOUBLE)) /
        |    (CAST(a.n_item AS DOUBLE) * CAST(b2.n_item AS DOUBLE)) AS lift
        |FROM p JOIN ic a ON a.item = p.item_a
        |       JOIN ic b2 ON b2.item = p.item_b, n""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "item_cooc" -> coocOracle,
    "cooc_maintained" -> coocOracle,
  )
}
