package graft.engine

import graft.sinks.OutputFormat
import graft.sources.ShardStream

/** CLI-parity entry point — the flag surface of the reference
  * (main.go:30-49) mapped onto the Spark engine:
  *
  * {{{
  * runMain graft.engine.Cli -stream-name /streams/events -position TRIM_HORIZON \
  *   -format data -separator '\n' -batch-size 100 -sleep-time 1000 -filter 'k > `50`'
  * }}}
  *
  * `-stream-name` takes the shard-directory path (the offline simulator's
  * stream identity). `-region` and `-debug` are accepted for flag parity;
  * `-region` is meaningless offline and `-debug` raises log verbosity.
  * `-0` sets the NUL separator, overriding `-separator` (main.go:47-49).
  */
object Cli {
  case class Config(
      streamName: String = "events",        // main.go:33
      region: String = "us-west-1",         // main.go:32 (unused offline)
      position: String = ShardStream.Latest, // main.go:34
      format: String = "data",              // main.go:35
      separator: String = "\n",             // main.go:36
      batchSize: Long = 1L,                 // main.go:37 (CLI default 1)
      sleepTimeMs: Long = 1000L,            // main.go:38
      filter: Option[String] = None,        // main.go:39
      debug: Boolean = false,               // main.go:31
      nulSeparator: Boolean = false) {      // main.go:47-49: -0 wins over -separator
    def effectiveSeparator: String = if (nulSeparator) "\u0000" else separator
  }

  def parse(args: Seq[String]): Config = {
    def loop(rest: List[String], c: Config): Config = rest match {
      case Nil => c
      case "-stream-name" :: v :: t => loop(t, c.copy(streamName = v))
      case "-region" :: v :: t      => loop(t, c.copy(region = v))
      case "-position" :: v :: t    => loop(t, c.copy(position = v))
      case "-format" :: v :: t      => loop(t, c.copy(format = v))
      case "-separator" :: v :: t   => loop(t, c.copy(separator = v))
      case "-0" :: t                => loop(t, c.copy(nulSeparator = true))
      case "-batch-size" :: v :: t  => loop(t, c.copy(batchSize = v.toLong))
      case "-sleep-time" :: v :: t  => loop(t, c.copy(sleepTimeMs = v.toLong))
      case "-filter" :: v :: t      => loop(t, c.copy(filter = Some(v)))
      case "-debug" :: t            => loop(t, c.copy(debug = true))
      case other :: _ =>
        throw new IllegalArgumentException(s"unknown flag: $other")
    }
    loop(args.toList, Config())
  }

  def toStream(c: Config): KinesiscatStream =
    KinesiscatStream(
      path = c.streamName,
      position = c.position.toUpperCase,
      batchSize = c.batchSize,
      sleepTimeMs = c.sleepTimeMs,
      format = OutputFormat.parse(c.format),
      separator = c.effectiveSeparator,
      filter = c.filter)

  def main(args: Array[String]): Unit = {
    val c = parse(args.toIndexedSeq)
    val spark = graft.SessionTuning.builder().getOrCreate()
    spark.sparkContext.setLogLevel(if (c.debug) "INFO" else "WARN")
    val q = toStream(c).start(spark, System.out)
    // graceful stop on SIGTERM (S10, worker.go:128-132), ordered before
    // SparkContext's own shutdown hook: a plain JVM hook races it and the
    // query's stop then fails on a stopped SparkContext
    org.apache.spark.sql.graft.bridge.addShutdownHookBeforeSparkContext(() => q.stop())
    q.awaitTermination()
  }
}
