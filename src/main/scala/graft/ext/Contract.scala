package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** Data-contract validation — the expectation tests (dbt tests /
  * Great Expectations) a production table carries: per-rule violation
  * counts from ONE corpus scan, and referential-integrity orphan checks
  * between tables. The pipeline's ingest gate: a non-zero count on a
  * `must-hold` rule fails the publish ([[Snapshot.publish]] composes
  * after this).
  *
  * Scale design: [[contractReport]] evaluates EVERY rule inside one
  * aggregation over one scan (each rule is a `sum(when(!pred, 1))`
  * column — codegen'd, no per-rule pass), then unpivots the single
  * result row; cost is the scan, independent of rule count.
  * [[fkOrphans]] is a plain anti-join: broadcast when the parent's key
  * set is dimension-sized, shuffle otherwise — Catalyst's choice.
  * `violation_frac` is one IEEE division of two integers. */
object Contract {
  private type Q = (SparkSession, String) => DataFrame

  /** One row per rule: (rule, n_rows, n_violations, violation_frac).
    * A rule's predicate states what MUST hold; NULL predicate results
    * count as violations (a null check is itself a rule). */
  def contractReport(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "need at least one rule")
    val aggs = count(lit(1)).as("__n") +:
      rules.map { case (name, pred) =>
        sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)).as(s"__v_$name")
      }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val pairs = rules.flatMap { case (name, _) =>
      Seq(lit(name), col(s"__v_$name"))
    }
    row.select(col("__n"), map(pairs: _*).as("__m"))
      .select(col("__n"), explode(col("__m")).as(Seq("rule", "n_violations")))
      .select(col("rule"), col("__n").as("n_rows"), col("n_violations"),
        (col("n_violations").cast("double") / col("__n").cast("double"))
          .as("violation_frac"))
  }

  /** Child rows whose key has no parent — the dbt `relationships` test.
    * Returns the orphan rows (child columns only); `.count()` is the
    * assertion, the rows themselves the debugging sample. */
  def fkOrphans(child: DataFrame, parent: DataFrame,
                childKey: String, parentKey: String): DataFrame =
    child.join(parent.select(col(parentKey).as(childKey)).distinct(),
      Seq(childKey), "left_anti")

  /** Streaming contract monitoring: absorb an ingest micro-batch's rule
    * counts into the persisted CUMULATIVE report ([[BatchState]]
    * snapshots — replay-safe, crash-dir-invisible) and return the
    * current everything-ingested-so-far report. Counts are sums, so the
    * maintained report equals a one-shot [[contractReport]] over the
    * union by associativity (spec-pinned). */
  def absorbContractBatch(spark: SparkSession, stateDir: String, batchId: Long,
                          batch: DataFrame,
                          rules: Seq[(String, Column)]): DataFrame = {
    val (latest, lastId) = BatchState.load(spark, stateDir)
    val replay = lastId.exists(_ >= batchId)
    val base = if (replay) BatchState.load(spark, stateDir, Some(batchId))._1 else latest
    val b = contractReport(batch, rules).select("rule", "n_rows", "n_violations")
    val merged = base.map(_.unionByName(b)).getOrElse(b)
      .groupBy("rule")
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("n_violations")).as("n_violations"))
      .localCheckpoint(true)
    if (!replay) BatchState.save(merged, stateDir, batchId)
    merged.select(col("rule"), col("n_rows"), col("n_violations"),
      (col("n_violations").cast("double") / col("n_rows").cast("double"))
        .as("violation_frac"))
  }

  val queries: Map[String, Q] = Map(
    // lineitem expectations: two that hold, two that fail on real rows —
    // the report must SURFACE violations, not just bless clean tables
    "data_contract" -> ((s, dir) =>
      contractReport(SparkEntry.table(s, dir, "lineitem"), Seq(
        "orderkey_not_null" -> col("l_orderkey").isNotNull,
        "quantity_positive" -> (col("l_quantity") > 0),
        "quantity_le_30" -> (col("l_quantity") <= 30),
        "discount_le_5pct" -> (col("l_discount") <= 0.05)))),
    // orphan orders: customers with c_custkey % 10 == 0 are "deleted" —
    // the remaining orders referencing them surface as orphans
    "fk_orphans" -> ((s, dir) =>
      fkOrphans(
        SparkEntry.table(s, dir, "orders").select("o_orderkey", "o_custkey"),
        SparkEntry.table(s, dir, "customer").where(col("c_custkey") % 10 =!= 0),
        "o_custkey", "c_custkey")),
  )

  val oracleSql: Map[String, String] = Map(
    "data_contract" ->
      """WITH n AS (SELECT count(*) AS n_rows FROM lineitem)
        |SELECT 'orderkey_not_null' AS rule, n_rows,
        |  (SELECT count(*) FROM lineitem WHERE NOT COALESCE(l_orderkey IS NOT NULL, FALSE)) AS n_violations,
        |  CAST((SELECT count(*) FROM lineitem WHERE NOT COALESCE(l_orderkey IS NOT NULL, FALSE)) AS DOUBLE) / n_rows AS violation_frac
        |FROM n
        |UNION ALL
        |SELECT 'quantity_positive', n_rows,
        |  (SELECT count(*) FROM lineitem WHERE NOT COALESCE(l_quantity > 0, FALSE)),
        |  CAST((SELECT count(*) FROM lineitem WHERE NOT COALESCE(l_quantity > 0, FALSE)) AS DOUBLE) / n_rows
        |FROM n
        |UNION ALL
        |SELECT 'quantity_le_30', n_rows,
        |  (SELECT count(*) FROM lineitem WHERE NOT COALESCE(l_quantity <= 30, FALSE)),
        |  CAST((SELECT count(*) FROM lineitem WHERE NOT COALESCE(l_quantity <= 30, FALSE)) AS DOUBLE) / n_rows
        |FROM n
        |UNION ALL
        |SELECT 'discount_le_5pct', n_rows,
        |  (SELECT count(*) FROM lineitem WHERE NOT COALESCE(l_discount <= 0.05, FALSE)),
        |  CAST((SELECT count(*) FROM lineitem WHERE NOT COALESCE(l_discount <= 0.05, FALSE)) AS DOUBLE) / n_rows
        |FROM n""".stripMargin,
    "fk_orphans" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey NOT IN (
        |  SELECT c_custkey FROM customer WHERE c_custkey % 10 != 0)""".stripMargin,
  )
}
