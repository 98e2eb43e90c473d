package perfbench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ext.Dedup

/** Driver of the `corpus_dedup` workload, through the public
  * `graft.ext.Dedup` API only.
  *
  * {{{
  * CorpusDedup <corpus.parquet>[,<corpus.parquet>...] <out.jsonl> <cpus> <seconds> <warmReps> <minTimedReps> <preflight:0|1>
  * }}}
  *
  * Builds its session the way `graft.Bench` does (`local[cpus]`,
  * `GraftExtensions`, `SessionTuning`), reads each corpus once, prints
  * `READY` and waits for one stdin command: `run` times repetitions of
  * `Dedup.jaccardPairs(k = 3, tau = 0.5)` followed by `Dedup.clusters`,
  * repetition i on corpus i mod (number of corpora): the first `warmReps`
  * warm the JVM up, and further ones run until `seconds` have passed since
  * the warm-up ended and at least `minTimedReps` ran after it. Every repetition's
  * pairs, clusters and call times go to `out.jsonl` for the benchmark's own
  * checker. With preflight 1 it then runs `Dedup.jaccardPreflight` once,
  * on the first corpus.
  * It prints `DONE` and exits on the next stdin line, so the caller can
  * read the process's peak memory first. */
object CorpusDedup {
  def main(args: Array[String]): Unit = {
    val Array(corpusPath, outPath, cpus, secondsS, warmRepsS, minTimedRepsS, preflightS) = args
    val warmReps = warmRepsS.toInt
    val stdin = new BufferedReader(new InputStreamReader(System.in))
    val spark = graft.SessionTuning(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val corpora = corpusPath.split(",").map(spark.read.parquet(_))
    val nDocs = corpora.map(_.count()).sum
    println(s"READY $nDocs")
    System.out.flush()
    if (stdin.readLine() != "run") { spark.stop(); return }

    val out = new PrintWriter(outPath, "UTF-8")
    val edgeSchema = StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType)))
    var rep = 0
    var timedFromNs = 0L // the end of the warm-up
    while (rep < warmReps + minTimedRepsS.toInt ||
           (System.nanoTime() - timedFromNs) / 1e9 < secondsS.toDouble) {
      spark.sparkContext.setJobDescription(s"perfbench:rep:$rep")
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val part = rep % corpora.length
      val pairs = Dedup.jaccardPairs(corpora(part), k = 3, tau = 0.5).collect()
      val t1 = System.nanoTime()
      val edges = spark.createDataFrame(
        java.util.Arrays.asList(pairs.map(r => Row(r.getLong(0), r.getLong(1))): _*), edgeSchema)
      val clusters = Dedup.clusters(edges).collect()
      val t2 = System.nanoTime()
      out.println(s"""{"rep":$rep,"corpus":$part,"start_ms":$startMs,"end_ms":${System.currentTimeMillis()},""" +
        s""""pairs_s":${(t1 - t0) / 1e9},"clusters_s":${(t2 - t1) / 1e9},""" +
        pairs.map(r => s"[${r.getLong(0)},${r.getLong(1)},${r.getDouble(2)}]")
          .mkString("\"pairs\":[", ",", "],") +
        clusters.map(r => s"[${r.getLong(0)},${r.getLong(1)}]").mkString("\"clusters\":[", ",", "]}"))
      out.flush()
      if (rep == warmReps - 1) timedFromNs = System.nanoTime()
      rep += 1
    }
    if (preflightS == "1") {
      spark.sparkContext.setJobDescription("perfbench:preflight")
      val p = Dedup.jaccardPreflight(corpora(0), k = 3, tau = 0.5).collect().head
      out.println(s"""{"preflight":{"candidate_volume":${p.getAs[Long]("candidate_volume")},""" +
        s""""prefix_rows":${p.getAs[Long]("prefix_rows")},"n_docs":${p.getAs[Long]("n_docs")}}}""")
    }
    out.close()
    println("DONE")
    System.out.flush()
    stdin.readLine()
    spark.stop()
  }
}
