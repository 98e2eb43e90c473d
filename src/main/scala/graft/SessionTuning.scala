package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured. [[builder]] is what every
  * entry point starts from (Bench, Verify, the CLI, the probes, the test
  * ProdSession); [[apply]] adds only the tunings below to a caller's own
  * builder. Each tuning is runtime-mutable SQL conf, so a user embedding the
  * library can apply the same with `spark.conf.set`.
  *
  * `objectHashAggregate.sortBased.fallbackThreshold` (default 128): any
  * `ObjectHashAggregateExec` — every `TypedImperativeAggregate`, i.e. our
  * native top-k family and `collect_list` — abandons hash aggregation and
  * SORTS THE ENTIRE REMAINING INPUT once a task's hash map sees more than
  * this many DISTINCT KEYS. 128 is calamitous for top-k: the buffers are
  * strictly k-bounded (k·16 bytes + object header per group), so hashing
  * 64K groups per task costs ~tens of MB, while the fallback re-sorts the
  * full pre-aggregation input (measured: the bitext_mine dual top-k over
  * the 2M-row exploded sim matrix went 2.6 s → 1.4 s at sf0.1 when the
  * fallback stopped firing). 65536 keeps worst-case task memory bounded
  * (64K × ~250 B ≈ 16 MB for top-k buffers) while covering every gate's
  * group cardinality; at cluster scale tune to taste — the partial
  * aggregate's map is per-task, not per-executor. */
object SessionTuning {
  val ObjectHashFallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
  val ObjectHashFallbackValue = "65536"

  def apply(b: SparkSession.Builder): SparkSession.Builder =
    b.config(ObjectHashFallbackKey, ObjectHashFallbackValue)

  /** Cores a graft session runs on: `SPARK_GRAFT_CPUS`, else every
    * processor the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A session builder in graft's production configuration: master
    * `SPARK_MASTER`, else `local[cpus]`; one shuffle partition per core;
    * UI off; UTC session time zone; [[GraftExtensions]] installed (JMESPath
    * lowering and scan fusion in the optimizer's Pre CBO batch); and the
    * tunings of [[apply]]. Callers add their own settings on top. */
  def builder(): SparkSession.Builder = apply(SparkSession.builder()
    .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", classOf[GraftExtensions].getName))
}
