package perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

import graft.compile.LowerJmesPathRule
import graft.functions.JmesPathFiltered
import graft.jmespath.{JValue, Parser}
import graft.sinks.{DataFormat, FramedSink}
import graft.sources.{ShardInputPartition, ShardReaderFactory}

/** Direct timed calls into single layers, over the inputs a stream
  * workload generated (part of the traced run only).
  *
  * {{{
  * LayerProbe <ranges.tsv> <filter> <cpus> <maxDocs> <out.json>
  * }}}
  *
  * `ranges.tsv` holds one `shardId<TAB>file<TAB>start<TAB>end` line per
  * (micro-batch, shard) range the traced CLI run planned. The probe
  *  - iterates a `ShardReaderFactory` reader over every range, timing it and
  *    counting the bytes the process read meanwhile (`rchar` of
  *    /proc/self/io), which gives the lines the reader passed;
  *  - times `JValue.parse` and `Parser.compile(filter).search` over
  *    `maxDocs` documents (the documents read, cycled if there are fewer);
  *  - times `FramedSink.lineCol` over the same documents, cached in memory,
  *    in a `GraftExtensions` session with the lowering rule on and then off,
  *    and records whether the rule lowered the filter.
  * Every timing is the median of several passes after warm-up passes. */
object LayerProbe {
  private def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Time `passes` runs of `f`; median seconds. */
  private def timed(passes: Int)(f: => Unit): Double =
    medianOf((1 to passes).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    })

  /** Warm up once, then time `passes` runs of `f`; median seconds. */
  private def warmTimed(passes: Int)(f: => Unit): Double = { f; timed(passes)(f) }

  private def rchar(): Long =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .find(_.startsWith("rchar:")).map(_.drop(6).trim.toLong).getOrElse(-1L)

  def main(args: Array[String]): Unit = {
    val Array(rangesPath, filter, cpus, maxDocsS, outPath) = args
    val ranges = Files.readAllLines(Paths.get(rangesPath)).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t"))
      .map(a => ShardInputPartition(a(0), a(1), a(2).toLong, a(3).toLong))
    val factory = new ShardReaderFactory()

    // --- sources: reader iteration over the planned ranges
    val docs = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    def readAll(keep: Boolean): Long = {
      var n = 0L
      ranges.foreach { p =>
        val r = factory.createReader(p)
        try while (r.next()) {
          val row: InternalRow = r.get()
          if (keep) docs += row.getBinary(0)
          n += 1
        } finally r.close()
      }
      n
    }
    // the first pass (which keeps the documents) is the warm-up; a pass
    // re-reads every file prefix its ranges skip, so passes are few
    val rchar0 = rchar()
    val records = readAll(keep = true)
    val bytesRead = rchar() - rchar0
    val readS = timed(3)(readAll(keep = false))

    // --- jmespath: the interpreter as the CLI ships it
    // the workload's documents, cycled up to maxDocs so that per-record
    // work outweighs the fixed cost of each timed pass
    val sample = Iterator.continually(docs).flatten.take(maxDocsS.toInt).toIndexedSeq
    val texts = sample.map(b => new String(b, "UTF-8"))
    val parsed = texts.map(JValue.parse)
    val compiled = Parser.compile(filter)
    val parseS = warmTimed(5)(texts.foreach(JValue.parse))
    val searchS = warmTimed(5)(parsed.foreach(compiled.search))

    // --- compile: FramedSink.lineCol, lowering rule on vs off
    val spark = graft.SessionTuning(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val in = spark.createDataFrame(sample.map(b => Row(b)).asJava,
        StructType(Seq(StructField("data", BinaryType))))
      .repartition(cpus.toInt).cache()
    in.count()
    def lineQuery() = in.select(FramedSink.lineCol(DataFormat, Some(filter)).as("line"))
      .where(col("line").isNotNull)
      .agg(count(lit(1)).as("n"), expr("bit_xor(xxhash64(line))").as("h"))
    def lowers(): Boolean = {
      spark.conf.set(LowerJmesPathRule.LowerConfKey, "true")
      !lineQuery().queryExecution.optimizedPlan
        .exists(_.expressions.exists(_.exists(_.isInstanceOf[JmesPathFiltered])))
    }
    // rule on and off alternate pass by pass, so JIT warm-up and host noise
    // fall on both sides alike
    val times = Map(true -> ArrayBuffer[Double](), false -> ArrayBuffer[Double]())
    val rows = scala.collection.mutable.Map[Boolean, Row]()
    for (pass <- 0 until 7; lower <- Seq(true, false)) {
      spark.conf.set(LowerJmesPathRule.LowerConfKey, lower.toString)
      val t0 = System.nanoTime()
      rows(lower) = lineQuery().collect().head
      if (pass >= 2) times(lower) += (System.nanoTime() - t0) / 1e9
    }
    val (loweredS, interpS) = (medianOf(times(true).toSeq), medianOf(times(false).toSeq))
    val filterLowers = lowers()
    spark.stop()

    val n = sample.size.toDouble
    val w = new PrintWriter(outPath, "UTF-8")
    w.println(s"""{"records":$records,"bytes_read":$bytesRead,"read_s":$readS,""" +
      s""""docs":${sample.size},"parse_ns":${parseS * 1e9 / n},"search_ns":${searchS * 1e9 / n},""" +
      s""""lowered_ns":${loweredS * 1e9 / n},"interp_ns":${interpS * 1e9 / n},""" +
      s""""filter_lowers":${if (filterLowers) 1 else 0},"lines":${rows(false).getLong(0)},""" +
      s""""lowered_agrees":${rows(true) == rows(false)}}""")
    w.close()
  }
}
