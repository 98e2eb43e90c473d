package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** Corpus snapshot versioning: the changelog between two crawls/releases of
  * the same corpus — which documents were added, removed, or content-changed.
  * Every incremental pipeline run starts from this table (re-process only
  * `added`/`changed`, retire `removed` from downstream indexes).
  *
  * Scale shape: both sides reduce to (id, xxhash64(text)) AT SCAN TIME, so
  * the full-outer join — which cannot be broadcast when both snapshots are
  * corpus-sized — shuffles 16 bytes per document, never the text. Collision
  * posture: an xxhash64 collision between a document's old and new text
  * masks one `changed` row (P ≈ 2⁻⁶⁴ per changed doc) — the same acceptance
  * as [[Hygiene.contamination]]'s `hashKeys` and [[Dedup.subdocDedup]].
  */
object Versioning {
  private type Q = (SparkSession, String) => DataFrame

  /** One row per difference: `status ∈ {added, removed, changed}` keyed by
    * `idCol`. Unchanged documents (the overwhelming majority between
    * adjacent snapshots) produce no output. */
  def corpusDiff(old: DataFrame, neu: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val o = old.select(col(idCol).as("__id"), xxhash64(col(textCol)).as("__h_old"))
    val n = neu.select(col(idCol).as("__id"), xxhash64(col(textCol)).as("__h_new"))
    o.join(n, Seq("__id"), "full_outer")
      .withColumn("status",
        when(col("__h_old").isNull, lit("added"))
          .when(col("__h_new").isNull, lit("removed"))
          .when(col("__h_old") =!= col("__h_new"), lit("changed")))
      .where(col("status").isNotNull)
      .select(col("__id").as(idCol), col("status"))
  }

  /** Changelog MERGE (the Delta/Iceberg `MERGE INTO` core, reduced to its
    * deterministic latest-wins rule): apply a change stream of upserts and
    * deletes to a base table. Each change row carries (`key`, `ts`, `op` ∈
    * {'u','d'}, payload…); per key the LATEST change wins (ties broken by
    * op, 'u' > 'd', then payload — make `ts` unique per key upstream for a
    * well-defined merge); a key with no change keeps its base row; a
    * winning 'd' removes the key.
    *
    * Scale shape: base rows enter as changes at timestamp −∞, and the
    * winner per key is ONE partial-agged `max(struct(ts, op, payload))` —
    * a single shuffle of (key, payload), no join at all, no window. */
  def mergeUpsert(base: DataFrame, changes: DataFrame, key: String,
                  tsCol: String, opCol: String,
                  payload: Seq[String]): DataFrame = {
    val pv = (df: DataFrame, ts: Column, op: Column) => df.select(
      col(key),
      struct(ts.as("ts") +: op.as("op") +: payload.map(col): _*).as("__c"))
    val b = pv(base, lit(Long.MinValue).cast("long"), lit("u"))
    val c = pv(changes, col(tsCol).cast("long"), col(opCol))
    b.unionByName(c)
      .groupBy(key).agg(max(col("__c")).as("__w"))
      .where(col("__w.op") === "u")
      .select(col(key) +: payload.map(p => col(s"__w.$p").as(p)): _*)
  }

  /** The per-key winner table INCLUDING delete markers — [[mergeUpsert]]
    * before its visibility filter. This is the mergeable STATE of a
    * maintained table: a deleted key must remember its deletion
    * timestamp, or a late-arriving OLDER upsert would wrongly resurrect
    * it. */
  private def mergeWinners(changes: DataFrame, key: String): DataFrame =
    changes.groupBy(key).agg(max(col("__c")).as("__c"))

  /** CONTINUOUSLY-MAINTAINED [[mergeUpsert]]: absorb a changelog batch
    * into the per-key winner state and return the visible table. Winner
    * state is associative (per-key struct-max merges in any batch
    * grouping), so the maintained table equals the one-shot merge of base
    * + every change absorbed (spec-pinned); replayed batches recompute
    * against the pre-batch snapshot (exactly-once via [[BatchState]]).
    * State size = the key domain — the maintained table itself plus its
    * tombstones; each absorption is |state| + |batch| work, never a
    * re-merge of the full changelog. */
  def absorbMergeBatch(spark: SparkSession, stateDir: String, batchId: Long,
                       base: DataFrame, changes: DataFrame, key: String,
                       tsCol: String, opCol: String,
                       payload: Seq[String]): DataFrame = {
    val pv = (df: DataFrame, ts: Column, op: Column) => df.select(
      col(key),
      struct(ts.as("ts") +: op.as("op") +: payload.map(col): _*).as("__c"))
    val (latest, lastId) = BatchState.load(spark, stateDir)
    val replay = lastId.exists(_ >= batchId)
    val st = if (replay) BatchState.load(spark, stateDir, Some(batchId))._1 else latest
    val prev = st.getOrElse(pv(base, lit(Long.MinValue).cast("long"), lit("u")))
    val merged = mergeWinners(
      prev.unionByName(pv(changes, col(tsCol).cast("long"), col(opCol))), key)
      .localCheckpoint(true)
    if (!replay) BatchState.save(merged, stateDir, batchId)
    merged.where(col("__c.op") === "u")
      .select(col(key) +: payload.map(p => col(s"__c.$p").as(p)): _*)
  }

  /** Slowly-changing-dimension TYPE-2 history from the same change
    * stream: one row per (key, version) with `valid_from`/`valid_to`
    * (null = current). The audit-trail twin of [[mergeUpsert]] — "what
    * did this document look like when the model trained?" is a
    * time-travel query over this table. One key-partitioned `lead`
    * window (partial per key — many keys parallelize; a single key's
    * history is its version count, never corpus-sized). */
  def scd2(changes: DataFrame, key: String, tsCol: String, tieCol: String,
           payload: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(col("valid_from").asc, col(tieCol).asc)
    changes.select(col(key) +: col(tsCol).cast("long").as("valid_from") +:
        payload.map(col): _*)
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
  }

  /** Per-bucket content checksums: `nBuckets` rows of (bucket, n_docs,
    * checksum), where the checksum XORs a per-document content hash over a
    * deterministic id-derived bucket. The replication-integrity table of a
    * multi-site corpus: two replicas (or a pre/post-migration pair) agree
    * iff their checksum tables agree, compared in `nBuckets` rows instead
    * of re-shipping the corpus — and a disagreement localizes to the
    * bucket, so only 1/nBuckets of the data needs the row-level
    * [[corpusDiff]]. XOR is order- and partitioning-independent, so the
    * table is reproducible on any cluster layout; the per-doc hash is the
    * sha256-derived [[Hygiene.hashU64]] over `id:text`, cross-engine
    * exact like every sampling hash. */
  def corpusChecksums(df: DataFrame, nBuckets: Int = 64,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.select(pmod(col(idCol), lit(nBuckets.toLong)).as("bucket"),
        Hygiene.hashU64(concat(col(idCol).cast("string"), lit(":"), col(textCol)))
          .as("__h"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), expr("bit_xor(__h)").as("checksum"))

  /** k-ANONYMITY audit: every quasi-identifier combination held by fewer
    * than `k` rows — the re-identification risk table reviewed before a
    * dataset release (a rare (lang, source, size-bucket) combination can
    * single out a contributor even after direct identifiers are gone).
    * One partial-agged groupBy; the report is bounded by the number of
    * RARE combinations, not the corpus. */
  def kAnonymityAudit(df: DataFrame, quasiIds: Seq[Column], k: Long = 5L): DataFrame = {
    require(quasiIds.nonEmpty && k >= 2, "need quasi-identifiers and k >= 2")
    df.groupBy(quasiIds: _*).agg(count(lit(1)).as("n")).where(col("n") < k)
  }

  /** l-DIVERSITY audit (Machanavajjhala et al. 2007) — the companion check
    * [[kAnonymityAudit]] cannot make: a quasi-identifier group can hold
    * k rows yet still leak if they all share ONE `sensitive` value
    * (knowing someone is in the group reveals their attribute). Reports
    * every group whose sensitive-value diversity is below `l`, with its
    * size. Same one-partial-agged-groupBy shape as the k-audit; the
    * report is bounded by the number of LOW-diversity groups. */
  def lDiversityAudit(df: DataFrame, quasiIds: Seq[Column], sensitive: Column,
                      l: Long = 3L): DataFrame = {
    require(quasiIds.nonEmpty && l >= 2, "need quasi-identifiers and l >= 2")
    df.groupBy(quasiIds: _*)
      .agg(count(lit(1)).as("n"), countDistinct(sensitive).as("diversity"))
      .where(col("diversity") < l)
  }

  /** Right-to-be-forgotten deletion: drop every row whose `key` appears
    * in the request list and account for it — the GDPR/CCPA erasure pass
    * a long-lived corpus runs before each [[Snapshot.publish]]. Small
    * request lists ride as a broadcast anti-join (the common case);
    * compose with [[corpusChecksums]] before/after for the audit trail. */
  def forget(df: DataFrame, key: Column, requests: Seq[Long]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.join(broadcast(requests.toDF("__req")), key === col("__req"), "left_anti")
  }

  /** The erasure AUDIT: one row per requested key with how many rows were
    * removed — including ZERO rows for keys the corpus never held (the
    * compliance record must show the request was processed, not merely
    * that nothing matched). */
  def forgetAudit(df: DataFrame, key: Column, requests: Seq[Long]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // filter BEFORE aggregating: the count is request-bounded (pushed to
    // the scan as an IN filter), not a groupBy over the whole key domain
    requests.toDF("req_key")
      .join(df.where(key.isin(requests: _*))
          .groupBy(key.as("req_key")).agg(count(lit(1)).as("n_removed")),
        Seq("req_key"), "left")
      .na.fill(0L, Seq("n_removed"))
  }

  /** Incrementally-MAINTAINED dataset card: per-key document and token
    * counts kept current across ingest batches — the materialized-view
    * refresh every long-running ingest keeps next to the corpus (the full
    * recompute is a corpus scan; the refresh is |batch| + |card| work).
    * Counts are plain sums, so merge = union + re-aggregate of the
    * |keys|-sized card, and the maintained card equals the full-corpus
    * [[graft.ext.TextAnalysis.corpusStats]]-style aggregate by
    * associativity (spec-pinned). State rides [[BatchState]]'s
    * _SUCCESS-gated per-batch snapshots: crash-mid-write invisible,
    * replayed batches recompute against the previous snapshot —
    * exactly-once counts. */
  def absorbCardBatch(spark: SparkSession, stateDir: String, batchId: Long,
                      docs: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val (latest, lastId) = BatchState.load(spark, stateDir)
    val replay = lastId.exists(_ >= batchId)
    val base = if (replay) BatchState.load(spark, stateDir, Some(batchId))._1 else latest
    val b = docs.groupBy(key.as("key"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val merged = base.map(_.unionByName(b)).getOrElse(b)
      .groupBy("key")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .localCheckpoint(true)
    if (!replay) BatchState.save(merged, stateDir, batchId)
    merged
  }

  /** Gate request list: three live users + one the corpus never held. */
  val GateForgetRequests: Seq[Long] = Seq(3L, 7L, 11L, 999999L)

  /** EXACT total-variation distance between two corpus versions' unigram
    * distributions — the release-to-release "how much did the language
    * shift" scalar of a dataset card ([[graft.ext.Quality.driftReport]]
    * tracks a numeric signal; this tracks the text itself). TV(P,Q) =
    * ½·Σ_w |p(w) − q(w)| ∈ [0, 1].
    *
    * Determinism: a float Σ|p−q| is summation-order nondeterministic, so
    * the sum runs over the INTEGER numerators instead —
    * `Σ_w |c_a(w)·N_b − c_b(w)·N_a|` in decimal(38,0) (exact to 1e38;
    * c ~ 1e12 counts × N ~ 1e13 totals fit) — and divides ONCE by
    * `2·N_a·N_b` in double (factors exact below 2^53, pinned order).
    * The oracle's HUGEINT sum is the same integer, so `tv` is
    * bit-identical.
    *
    * Plan: two word-count aggregations, one full-outer join on the word
    * key (absent-side counts are 0), one decimal sum — all
    * partial-aggregated; the two scalar totals broadcast. */
  def corpusTvDistance(a: DataFrame, b: DataFrame): DataFrame = {
    def counts(df: DataFrame, cn: String) =
      df.select(explode(filter(split(col("text"), " "), w => length(w) > 0)).as("w"))
        .groupBy("w").agg(count(lit(1)).as(cn))
    val ca = counts(a, "ca"); val cb = counts(b, "cb")
    val joined = ca.join(cb, Seq("w"), "full_outer")
      .select(coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val na = ca.agg(coalesce(sum(col("ca")), lit(0L)).as("na"))
    val nb = cb.agg(coalesce(sum(col("cb")), lit(0L)).as("nb"))
    joined.crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .agg(count(lit(1)).as("vocab_union"),
        max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        // the cross products are formed IN DECIMAL (a Long c·N wraps at
        // ~1e12 counts × 1e7 totals); the oracle's HUGEINT mirrors
        sum(abs(col("ca").cast("decimal(19,0)") * col("nb").cast("decimal(19,0)")
          - col("cb").cast("decimal(19,0)") * col("na").cast("decimal(19,0)")))
          .as("__num"))
      .select(col("vocab_union"), col("n_a"), col("n_b"),
        (col("__num").cast("double") /
          (lit(2.0) * col("n_a").cast("double") * col("n_b").cast("double")))
          .as("tv"))
  }

  private def gateMergeBase(s: SparkSession, dir: String): DataFrame =
    SparkEntry.table(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), lit(-1L).as("event_id"),
        round(col("c_acctbal") * 100).cast("long").as("cents"))

  private def gateMergeChanges(s: SparkSession, dir: String): DataFrame =
    SparkEntry.table(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"),
        unix_micros(col("ts")).as("__ts"),
        when(col("event_type") === "error", "d").otherwise("u").as("__op"))

  val queries: Map[String, Q] = Map(
    "gdpr_forget" -> ((s, dir) =>
      forgetAudit(SparkEntry.table(s, dir, "events"), col("user_id"),
        GateForgetRequests)),
    // (lang, source, 100-char length bucket) combinations rarer than 3
    "k_anonymity" -> ((s, dir) =>
      kAnonymityAudit(SparkEntry.table(s, dir, "documents"),
        Seq(col("lang"), col("source"),
          (expr("n_chars div 100") * 100L).as("len_bucket")), k = 3L)),
    // (source, length-bucket) groups whose language diversity < 3: the
    // homogeneity leak k-anonymity misses (lang plays the sensitive attr)
    "l_diversity" -> ((s, dir) =>
      lDiversityAudit(SparkEntry.table(s, dir, "documents"),
        Seq(col("source"), (expr("n_chars div 100") * 100L).as("len_bucket")),
        col("lang"), l = 3L)),
    // customer balances as the base table, events as the change stream
    // ('error' events are deletes); latest change wins
    "merge_upsert" -> ((s, dir) =>
      mergeUpsert(gateMergeBase(s, dir), gateMergeChanges(s, dir),
        "user_id", "__ts", "__op", Seq("event_id", "cents"))),
    // the maintained table after absorbing the changelog in two batches
    // must equal the one-shot merge (same oracle)
    "merge_maintained" -> ((s, dir) => {
      val base = gateMergeBase(s, dir); val changes = gateMergeChanges(s, dir)
      val root = TmpIo.freshDir("mergestate")
      try {
        absorbMergeBatch(s, root.toString, 0L, base,
          changes.where(col("event_id") % 2 === 0),
          "user_id", "__ts", "__op", Seq("event_id", "cents"))
        absorbMergeBatch(s, root.toString, 1L, base,
          changes.where(col("event_id") % 2 === 1),
          "user_id", "__ts", "__op", Seq("event_id", "cents"))
          .localCheckpoint(true)
      } finally TmpIo.deleteRecursively(root)
    }),
    // full per-user history with validity ranges from the same stream
    "scd2_history" -> ((s, dir) =>
      scd2(SparkEntry.table(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            round(col("value") * 100).cast("long").as("cents"),
            unix_micros(col("ts")).as("__ts")),
        "user_id", "__ts", "event_id", Seq("event_id", "cents"))),
    // the maintained card after absorbing the corpus in two batches must
    // equal the one-shot groupBy (fresh temp state per run)
    "card_maintained" -> ((s, dir) => {
      val docs = SparkEntry.table(s, dir, "documents")
      val root = TmpIo.freshDir("cardstate")
      try {
        absorbCardBatch(s, root.toString, 0L, docs.where(col("doc_id") % 2 === 0),
          col("source"))
        absorbCardBatch(s, root.toString, 1L, docs.where(col("doc_id") % 2 === 1),
          col("source")).localCheckpoint(true)
      } finally TmpIo.deleteRecursively(root)
    }),
    "corpus_checksums" -> ((s, dir) =>
      corpusChecksums(SparkEntry.table(s, dir, "documents"))),
    // constructed adjacent snapshots: ids drop out of either side, a fifth
    // of the shared docs get their text revised
    "corpus_diff" -> ((s, dir) => {
      val docs = SparkEntry.table(s, dir, "documents")
      val old = docs.where(col("doc_id") % 7 =!= 1)
      val neu = docs.where(col("doc_id") % 7 =!= 2)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      corpusDiff(old, neu)
    }),
    // language shift between the even/odd corpus halves
    "corpus_tv" -> ((s, dir) => {
      val docs = SparkEntry.table(s, dir, "documents")
      corpusTvDistance(docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // integer numerators summed in HUGEINT (the engine's decimal twin),
    // one double division in the same operation order
    "corpus_tv" ->
      """WITH ta AS (SELECT unnest(list_filter(string_split(text, ' '),
        |    x -> len(x) > 0)) AS w FROM documents WHERE doc_id % 2 = 0),
        |tb AS (SELECT unnest(list_filter(string_split(text, ' '),
        |    x -> len(x) > 0)) AS w FROM documents WHERE doc_id % 2 = 1),
        |ca AS (SELECT w, count(*) AS ca FROM ta GROUP BY w),
        |cb AS (SELECT w, count(*) AS cb FROM tb GROUP BY w),
        |j AS (SELECT COALESCE(ca.ca, 0) AS ca, COALESCE(cb.cb, 0) AS cb
        |      FROM ca FULL OUTER JOIN cb USING (w)),
        |na AS (SELECT CAST(COALESCE(sum(ca), 0) AS BIGINT) AS na FROM ca),
        |nb AS (SELECT CAST(COALESCE(sum(cb), 0) AS BIGINT) AS nb FROM cb)
        |SELECT count(*) AS vocab_union,
        |  CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
        |  CAST(sum(abs(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na))
        |      AS DOUBLE) /
        |    (2.0 * CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE)) AS tv
        |FROM j, na, nb""".stripMargin,
    "k_anonymity" ->
      """SELECT lang, source, n_chars // 100 * 100 AS len_bucket,
        |  count(*) AS n
        |FROM documents GROUP BY 1, 2, 3 HAVING count(*) < 3""".stripMargin,
    "l_diversity" ->
      """SELECT source, n_chars // 100 * 100 AS len_bucket,
        |  count(*) AS n, count(DISTINCT lang) AS diversity
        |FROM documents GROUP BY 1, 2 HAVING count(DISTINCT lang) < 3""".stripMargin,
    // identical latest-wins struct-max rule; DuckDB struct comparison is
    // field-lexicographic in declared order, same as Spark's
    "merge_upsert" ->
      """WITH b AS (SELECT c_custkey AS user_id,
        |    struct_pack(ts := CAST(-9223372036854775808 AS BIGINT), op := 'u',
        |      event_id := CAST(-1 AS BIGINT),
        |      cents := CAST(round(c_acctbal * 100) AS BIGINT)) AS c
        |  FROM customer),
        |ch AS (SELECT user_id,
        |    struct_pack(ts := epoch_us(ts),
        |      op := CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END,
        |      event_id := event_id,
        |      cents := CAST(round(value * 100) AS BIGINT)) AS c
        |  FROM events),
        |w AS (SELECT user_id, max(c) AS w
        |      FROM (SELECT * FROM b UNION ALL SELECT * FROM ch) GROUP BY user_id)
        |SELECT user_id, w.event_id AS event_id, w.cents AS cents
        |FROM w WHERE w.op = 'u'""".stripMargin,
    "merge_maintained" ->
      """WITH b AS (SELECT c_custkey AS user_id,
        |    struct_pack(ts := CAST(-9223372036854775808 AS BIGINT), op := 'u',
        |      event_id := CAST(-1 AS BIGINT),
        |      cents := CAST(round(c_acctbal * 100) AS BIGINT)) AS c
        |  FROM customer),
        |ch AS (SELECT user_id,
        |    struct_pack(ts := epoch_us(ts),
        |      op := CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END,
        |      event_id := event_id,
        |      cents := CAST(round(value * 100) AS BIGINT)) AS c
        |  FROM events),
        |w AS (SELECT user_id, max(c) AS w
        |      FROM (SELECT * FROM b UNION ALL SELECT * FROM ch) GROUP BY user_id)
        |SELECT user_id, w.event_id AS event_id, w.cents AS cents
        |FROM w WHERE w.op = 'u'""".stripMargin,
    "scd2_history" ->
      """SELECT user_id, epoch_us(ts) AS valid_from, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS cents,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS valid_to
        |FROM events""".stripMargin,
    "gdpr_forget" ->
      """WITH req(req_key) AS (VALUES (3), (7), (11), (999999))
        |SELECT CAST(req_key AS BIGINT) AS req_key,
        |  CAST(COALESCE((SELECT count(*) FROM events e WHERE e.user_id = req.req_key), 0)
        |    AS BIGINT) AS n_removed
        |FROM req""".stripMargin,
    // the one-shot aggregate the two-batch maintenance provably equals
    "card_maintained" ->
      """SELECT source AS key, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |FROM documents GROUP BY source""".stripMargin,
    "corpus_checksums" ->
      """SELECT ((doc_id % 64) + 64) % 64 AS bucket, count(*) AS n_docs,
        |  bit_xor(CAST(('0x' || substring(
        |    sha256(CAST(doc_id AS VARCHAR) || ':' || text), 1, 8)) AS BIGINT)) AS checksum
        |FROM documents GROUP BY 1""".stripMargin,
    // text equality directly — hash equality on the engine side must agree
    // unless xxhash64 collides (documented acceptance)
    "corpus_diff" ->
      """WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 != 1),
        |n AS (SELECT doc_id,
        |        CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        |      FROM documents WHERE doc_id % 7 != 2),
        |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |        CASE WHEN o.doc_id IS NULL THEN 'added'
        |             WHEN n.doc_id IS NULL THEN 'removed'
        |             WHEN o.text != n.text THEN 'changed' END AS status
        |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT doc_id, status FROM j WHERE status IS NOT NULL""".stripMargin,
  )
}
