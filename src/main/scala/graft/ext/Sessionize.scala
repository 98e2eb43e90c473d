package graft.ext

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.SparkEntry

/** Per-user gap-based sessionization of the events stream — the stateful
  * streaming operator family (KeyValueGroupedDataset.flatMapGroupsWithState)
  * the reference lacks entirely (SURVEY §2.4), plus a batch window-function
  * twin used as the driver-oracle gate.
  *
  * A session breaks when the gap between consecutive events of a user
  * exceeds `gapMinutes`. Batch plan: lag + running sum over a
  * (user_id, ts)-partitioned window — shuffles once by user_id, scales with
  * per-user cardinality, not table size. Streaming plan: state =
  * (start, last, count) per user; closed sessions are emitted as soon as the
  * breaking event arrives; the open tail session stays in state.
  */
object Sessionize {
  private type Q = (SparkSession, String) => DataFrame

  /** Batch sessionization via window functions (driver-oracle twin). */
  def batch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(order))
      .withColumn("brk",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(
        order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("session_start"), count(lit(1)).as("n_events"))
      .select("user_id", "sid", "session_start", "n_events")
  }

  case class SessionState(startMs: Long, lastMs: Long, n: Long)
  case class SessionOut(user_id: Long, session_start: Timestamp, n_events: Long)

  /** Streaming sessionization over the shard-source envelope
    * (partitionKey = user id, approximateArrivalTimestamp = event time).
    * Emits CLOSED sessions; the open tail session per user remains in state.
    * Assumes per-user event-time order across micro-batches (holds when a
    * user's records live on one shard — the Kinesis partition-key contract). */
  def streaming(envelope: DataFrame, gapMinutes: Int = 30): Dataset[SessionOut] = {
    val spark = envelope.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    envelope
      .select(col("partitionKey").cast("long").as("user_id"),
        unix_millis(col("approximateArrivalTimestamp")).as("ts_ms"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, events: Iterator[(Long, Long)], state: GroupState[SessionState]) => {
          val ts = events.map(_._2).toArray.sorted // order within the batch
          val out = scala.collection.mutable.ListBuffer[SessionOut]()
          var cur = state.getOption.orNull
          for (t <- ts) {
            if (cur == null) cur = SessionState(t, t, 1)
            else if (t - cur.lastMs > gapMs) {
              out += SessionOut(user, new Timestamp(cur.startMs), cur.n)
              cur = SessionState(t, t, 1)
            } else cur = cur.copy(lastMs = t, n = cur.n + 1)
          }
          if (cur != null) state.update(cur)
          out.iterator
        })
  }

  /** The NATIVE session-window operator (`session_window(ts, gap)`): the
    * same gap semantics as [[batch]] but planned as Spark's built-in
    * SessionWindow aggregation — the state-store-backed shape that runs
    * unchanged under `readStream` with a watermark (merging session state
    * incrementally instead of re-windowing per batch). Gap boundary is
    * Spark's (end-exclusive: a gap of EXACTLY `gapMinutes` starts a new
    * session, mirrored by `>=` in the oracle, where [[batch]] breaks on
    * strict `>`). Aggregates are count/min/max — order-independent exact
    * doubles (a float SUM is summation-order nondeterministic). */
  def sessionAgg(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .groupBy(session_window(col("ts"), s"$gapMinutes minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"),
        col("min_value"), col("max_value"))

  /** Late-arrival audit — the batch-side account of what a streaming
    * watermark would drop: with arrival order given by `event_id` (the
    * ingest sequence; a Kinesis sequence number in the reference's world)
    * and a per-key watermark = running max event time seen so far minus
    * `latenessSeconds`, emit every event whose own timestamp is behind
    * the watermark at its arrival, with how late it was. The table sizes
    * the allowed-lateness knob BEFORE a deployment picks it: each
    * candidate lateness bound maps to exactly the rows with
    * `late_by_us > bound`.
    *
    * One user-key exchange; the running max is a ROWS-frame window over
    * the arrival order, and every compare is integer microseconds —
    * exact. (A GLOBAL watermark is the streaming engine's actual
    * semantics; keyed here so the audit scales without a single-partition
    * window — the per-key watermark lower-bounds the global one, so
    * per-key lateness UNDERCOUNTS global lateness, never overcounts.) */
  def lateArrivals(events: DataFrame, latenessSeconds: Long = 0L): DataFrame = {
    require(latenessSeconds >= 0, "lateness must be non-negative")
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("__hwm", max(col("ts_us")).over(w))
      .where(col("ts_us") < col("__hwm") - latenessSeconds * 1000000L)
      .select(col("user_id"), col("event_id"),
        (col("__hwm") - col("ts_us")).as("late_by_us"))
  }

  // ---- streaming late-arrival audit (persisted high-water marks) -------

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Latest COMMITTED hwm snapshot (dir with _SUCCESS) at or below
    * `maxBatchExclusive` (None = no bound): (state, its batch id). */
  private def loadLateState(spark: SparkSession, stateDir: String,
                            maxBatchExclusive: Option[Long] = None)
      : (DataFrame, Option[Long]) = {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("user_id", "hwm_us")
    val f = fs(spark, stateDir)
    val root = new org.apache.hadoop.fs.Path(stateDir)
    if (!f.exists(root)) return (empty, None)
    val done = f.listStatus(root).map(_.getPath).filter(p =>
      p.getName.startsWith("batch=") &&
        f.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      .map(p => p.getName.stripPrefix("batch=").toLong -> p)
      .filter { case (id, _) => maxBatchExclusive.forall(id < _) }
    if (done.isEmpty) (empty, None)
    else {
      val (id, p) = done.maxBy(_._1)
      (spark.read.parquet(p.toString), Some(id))
    }
  }

  /** Absorb one arrival-ordered micro-batch into the persisted per-user
    * high-water-mark state and return the batch's LATE rows — the
    * streaming form of [[lateArrivals]], state carried across batches
    * (an event early in batch n+1 is judged against timestamps seen in
    * batch n). The state is a per-user table updated by an outer-join
    * max — it never collects to the driver, so keyed cardinality is
    * unbounded (the [[graft.ext.Freq]] sketch state is driver-sized; this
    * one stays distributed).
    *
    * Exactly-once: snapshots land in per-batch-id dirs gated on _SUCCESS
    * (crash-mid-write invisible), the previous snapshot is RETAINED (two
    * live snapshots), and a replayed batch recomputes against the
    * snapshot BELOW its id — so Structured Streaming's replay of the one
    * uncommitted batch reproduces the identical late set instead of
    * judging the batch against its own already-absorbed timestamps. */
  def absorbLateBatch(spark: SparkSession, stateDir: String, batchId: Long,
                      events: DataFrame, latenessSeconds: Long): DataFrame = {
    val (latest, lastId) = loadLateState(spark, stateDir)
    val replay = lastId.exists(_ >= batchId)
    val base =
      if (replay) loadLateState(spark, stateDir, Some(batchId))._1 else latest
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val b = events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("__bh", max(col("ts_us")).over(w))
      .join(base.withColumnRenamed("hwm_us", "__sh"), Seq("user_id"), "left")
      .withColumn("__hwm", greatest(col("__bh"), col("__sh")))
    val late = b
      .where(col("ts_us") < col("__hwm") - latenessSeconds * 1000000L)
      .select(col("user_id"), col("event_id"),
        (col("__hwm") - col("ts_us")).as("late_by_us"))
      .localCheckpoint(true) // materialize BEFORE the state snapshot moves
    if (!replay) {
      val nxt = base.withColumnRenamed("hwm_us", "__old")
        .join(b.groupBy("user_id").agg(max(col("ts_us")).as("__new")),
          Seq("user_id"), "full_outer")
        .select(col("user_id"), greatest(col("__old"), col("__new")).as("hwm_us"))
      nxt.write.mode("overwrite").parquet(s"$stateDir/batch=$batchId")
      // retire all but the two newest snapshots (replay needs batch−1)
      val f = fs(spark, stateDir)
      val ids = f.listStatus(new org.apache.hadoop.fs.Path(stateDir)).map(_.getPath)
        .filter(_.getName.startsWith("batch="))
        .map(_.getName.stripPrefix("batch=").toLong).sorted
      ids.dropRight(2).foreach(i =>
        f.delete(new org.apache.hadoop.fs.Path(stateDir, s"batch=$i"), true))
    }
    late
  }

  val queries: Map[String, Q] = Map(
    "sessionize" -> ((s, dir) => batch(SparkEntry.table(s, dir, "events"))),
    "session_agg" -> ((s, dir) => sessionAgg(SparkEntry.table(s, dir, "events"))),
    // 1-hour allowed lateness against the per-user high-water mark. The
    // synthetic stream arrives perfectly in order, so the gate injects
    // disorder first (the piiAugmented inject-then-detect pattern): every
    // 97th event's timestamp is set back 48 hours — a deterministic
    // construction both engines compute identically
    "late_arrivals" -> ((s, dir) =>
      lateArrivals(
        SparkEntry.table(s, dir, "events").withColumn("ts",
          timestamp_micros(unix_micros(col("ts")) -
            when(col("event_id") % 97 === 0, 172800000000L).otherwise(0L))),
        latenessSeconds = 3600L)),
  )

  val oracleSql: Map[String, String] = Map(
    "sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM g)
        |SELECT user_id, sid, CAST(min(ts) AS TIMESTAMP) AS session_start,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,
    // session_window's end-exclusive gap boundary → `>=` break condition;
    // session_end = last event + gap
    "session_agg" ->
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM g)
        |SELECT user_id,
        |  CAST(min(ts) AS TIMESTAMP) AS session_start,
        |  CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
        |  count(*) AS n_events,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM s GROUP BY user_id, sid""".stripMargin,
    // same 48-hour setback injection, same running high-water mark over the
    // same arrival order, integer µs throughout
    "late_arrivals" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) -
        |    CASE WHEN event_id % 97 = 0 THEN 172800000000 ELSE 0 END AS ts_us
        |  FROM events),
        |a AS (
        |  SELECT user_id, event_id, ts_us,
        |    max(ts_us) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |  FROM e)
        |SELECT user_id, event_id, hwm - ts_us AS late_by_us
        |FROM a WHERE ts_us < hwm - 3600000000""".stripMargin,
  )
}
