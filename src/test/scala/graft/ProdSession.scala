package graft

import org.apache.spark.sql.SparkSession

/** The production-config test session (round-7 verdict missing #1).
  *
  * Bench/Verify/production sessions install the engine via
  * `spark.sql.extensions=graft.GraftExtensions`, which injects
  * [[graft.compile.LowerJmesPathRule]] + [[graft.compile.FuseProjectScans]]
  * into the optimizer's Pre CBO batch. The previous plan gates instead used
  * `spark.experimental.extraOptimizations` — a different batch where the
  * round-7 pushdown ping-pong could not reproduce, so a green suite shipped
  * a broken production plan.
  *
  * The session starts from [[SessionTuning.builder]], the production
  * configuration. Under `sbt test` all suites share one JVM and
  * `spark.sql.extensions` is static conf read from the FIRST SparkContext,
  * so the conf string cannot be relied on here. `Builder.withExtensions`
  * runs the IDENTICAL injection code (`new GraftExtensions()(extensions)`)
  * on a freshly created SparkSession, producing the same optimizer batches
  * production runs —
  * that is what these gates must test. AQE is off so `executedPlan` is the
  * concrete static tree (production keeps AQE on; AQE re-plans start from
  * exactly this plan). */
object ProdSession {
  /** Not a `lazy val`: RetrySpec cycles the JVM's SparkContext (it needs a
    * `local[4, 2]` master for task-retry semantics), and suite order is not
    * under this object's control — a cached session whose context died
    * mid-run poisoned three whole suites. Rebuild whenever the underlying
    * context is stopped; otherwise return the cached session. */
  @volatile private var cached: SparkSession = _
  def spark: SparkSession = synchronized {
    if (cached == null || cached.sparkContext.isStopped) {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      cached = SessionTuning.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "false")
        // injected once, by withExtensions: if this session creates the
        // JVM's SparkContext, the conf string would inject a second copy
        .config("spark.sql.extensions", "")
        .withExtensions(new GraftExtensions()(_))
        .getOrCreate()
    }
    cached
  }
}
