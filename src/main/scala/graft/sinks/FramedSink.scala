package graft.sinks

import java.io.OutputStream
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.jmes._

/** Output formats of the reference CLI (main.go:68-72). */
sealed trait OutputFormat
case object DataFormat extends OutputFormat         // payload bytes (default)
case object SequenceFormat extends OutputFormat     // sequence number
case object PartitionKeyFormat extends OutputFormat // partition key

object OutputFormat {
  def parse(s: String): OutputFormat = s match {
    case "data"          => DataFormat
    case "sequence"      => SequenceFormat
    case "partition-key" => PartitionKeyFormat
    case other => throw new IllegalArgumentException(s"unknown format: $other")
  }
}

/** K1/K2: record formatting + separator framing over the stream envelope
  * (columns per [[graft.sources.ShardStream.Schema]]).
  *
  * Reference semantics (main.go:74-104):
  *  - `data`: payload printed followed by the configurable separator,
  *    including NUL via `-0` (main.go:35-36,47-49,103);
  *  - `sequence` / `partition-key`: always newline-framed (the reference uses
  *    fmt.Println and ignores `-separator` for these — reproduced exactly,
  *    SURVEY §2.1 quirks);
  *  - `-filter`: the reference assigns the JMESPath result and returns
  *    before printing (the main.go:99-100 bug). We implement the documented
  *    INTENT (README.md:26-30, jq analogy): print the compact-JSON JMESPath
  *    result framed by the separator, skipping records whose result is
  *    JMESPath-falsy (null/false/""/[]/{}; util.go:13-45) — making `-filter`
  *    an actual record selector. Deviation from the broken behavior, by
  *    design.
  */
object FramedSink {
  /** The formatted line per record as a Column (null = record skipped;
    * filter gating is JMESPath truthiness of the result). Under
    * [[graft.GraftExtensions]] the micro-batch plan of `data` with
    * ``-filter 'k >= `50` && k'`` evaluates ONE fused scan per record, in
    * the Project below the Filter and none inline in the Filter
    * (stream_filter_format at sf0.001). */
  def lineCol(format: OutputFormat, filter: Option[String]): Column = format match {
    case DataFormat =>
      filter match {
        // single parse + tree walk per record (result-if-truthy, else NULL)
        case Some(f) => jmesFiltered(col("data").cast("string"), f)
        case None    => col("data").cast("string")
      }
    case SequenceFormat     => col("sequenceNumber")
    case PartitionKeyFormat => col("partitionKey")
  }

  /** Effective separator: `sequence`/`partition-key` are newline-framed
    * regardless (reference quirk, main.go:79,81). */
  def effectiveSeparator(format: OutputFormat, separator: String): String = format match {
    case DataFormat => separator
    case _          => "\n"
  }

  /** foreachBatch body: stream the formatted batch to `out`. Driver-side by
    * nature (stdout is a driver resource — CLI parity); large-scale pipelines
    * should write `lineCol` through a distributed sink instead. */
  def writeBatch(batch: DataFrame, format: OutputFormat, separator: String,
                 filter: Option[String], out: OutputStream): Unit = {
    val sep = effectiveSeparator(format, separator).getBytes("UTF-8")
    val lines = batch.select(lineCol(format, filter).as("line"))
      .where(col("line").isNotNull)
    val it = lines.toLocalIterator()
    while (it.hasNext) {
      out.write(it.next().getString(0).getBytes("UTF-8"))
      out.write(sep)
    }
    out.flush()
  }
}
