package graft.ext

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[MgSketch]] / [[Freq.heavyHitters]]: the superset guarantee on an
  * adversarial stream where pruning MUST fire, exactness of the two-pass
  * output against brute force, partitioning invariance, and the plan
  * properties (bounded partial aggregation, candidate-filtered recount). */
class FreqSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.ProdSession.spark
  import spark.implicits._

  // 5 heavy items (1000 each) buried in a 30k-distinct filler flood: with
  // m = 100 the sketch holds ≤ 200 of 30_005 distinct terms, so pruning
  // fires constantly, and n/(m+1) = 35000/101 ≈ 347 < 1000 puts every
  // heavy item under the unconditional survival guarantee.
  private val heavy = (1 to 5).flatMap(h => Seq.fill(1000)(s"h$h"))
  private val fill = (1 to 30000).map(i => s"f$i")
  private val n = heavy.size + fill.size // 35_000
  private lazy val terms =
    spark.createDataset(new scala.util.Random(42).shuffle(heavy ++ fill))(
      org.apache.spark.sql.Encoders.STRING).toDF("term").repartition(7)

  test("MG sketch: every item above n/(m+1) survives pruning") {
    val mg = udaf(new MgSketch(100), org.apache.spark.sql.Encoders.STRING)
    val sketch = terms.agg(mg(col("term"))).head().getMap[String, Long](0)
    assert(sketch.size <= 200, s"sketch must stay bounded, got ${sketch.size}")
    assert(sketch.size < 30005, "pruning never fired — the test is vacuous")
    for (h <- 1 to 5)
      assert(sketch.contains(s"h$h"), s"heavy item h$h pruned — guarantee broken")
  }

  test("heavyHitters == brute-force groupBy, on any partitioning") {
    val expected = terms.groupBy("term").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * 100 > lit(n.toLong))
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(expected.map(_._1) == (1 to 5).map(h => s"h$h"),
      "the constructed corpus must have exactly the 5 heavy items above n/m")
    for (parts <- Seq(1, 7, 32)) {
      val got = Freq.heavyHitters(terms.repartition(parts), m = 100)
        .as[(String, Long)].collect().sortBy(_._1).toSeq
      assert(got == expected, s"two-pass output diverged at $parts partitions")
    }
  }

  test("heavyHitters production mode: bounds bracket exact counts, superset holds") {
    val exact = Freq.heavyHitters(terms, m = 100)
      .as[(String, Long)].collect().toMap
    val prod = Freq.heavyHitters(terms, m = 100, audit = false)
      .as[(String, Long, Long)].collect()
      .map { case (t, lo, hi) => t -> ((lo, hi)) }.toMap
    // every true heavy hitter survives the one-pass threshold...
    exact.foreach { case (t, cnt) =>
      val (lo, hi) = prod.getOrElse(t,
        fail(s"true heavy hitter $t missing from production candidates"))
      // ...and its exact count sits inside the sketch's [cnt_min, cnt_max]
      assert(lo <= cnt && cnt <= hi, s"$t: exact $cnt outside [$lo, $hi]")
    }
  }

  test("heavyHitters recount plan: candidate filter before ONE aggregation exchange") {
    // parquet-backed domain (a LocalRelation would fold the filter away at
    // plan time and hide what this test pins): the gate query's own shape
    val docs = graft.SparkEntry.table(spark, "/root/testdata/sf0.001", "documents")
    val p: SparkPlan = Freq.heavyHitters(Freq.trigrams(docs), m = 4096)
      .queryExecution.executedPlan
    def cnt(pf: PartialFunction[SparkPlan, Unit]): Int =
      p.collect { case n if pf.isDefinedAt(n) => n }.size
    // one KEY exchange: the candidate-only groupBy (plus nothing
    // corpus-wide). The input spread adds a non-key exchange on few-files
    // inputs — allowed; any extra KEY exchange would mean a corpus-wide
    // aggregation crept back.
    val hashEx = p.collect {
      case e: ShuffleExchangeExec if !graft.SpreadExchange.is(e) &&
        e.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashEx.size == 1,
      s"expected exactly the recount hash exchange:\n$p")
    assert(cnt { case _: HashAggregateExec => } == 2,
      s"expected partial+final recount HashAggregate:\n$p")
    // the scan-time candidate-membership filter keeps non-candidates off
    // the wire (>10 candidates optimizes to an INSET hash probe)
    val s = p.toString
    assert(s.contains("INSET") || s.contains(" IN "),
      s"expected a candidate-membership filter below the recount:\n$p")
  }

  test("trigram domain matches the oracle's windowing on short docs") {
    val docs = Seq("a b c d", "a b", "", "x y z").toDF("text")
    val got = Freq.trigrams(docs).as[String].collect().sorted.toSeq
    assert(got == Seq("a b c", "b c d", "x y z"))
  }
  test("streaming absorb: exact total, guaranteed superset, idempotent retry") {
    val dir = java.nio.file.Files.createTempDirectory("hhstate").toString
    val m = 100
    // three batches segmenting the adversarial corpus differently than any
    // partition split — absorb sequentially like foreachBatch would
    val all = new scala.util.Random(7).shuffle(heavy ++ fill)
    val batches = all.grouped((all.size + 2) / 3).toSeq
    var last: org.apache.spark.sql.DataFrame = null
    batches.zipWithIndex.foreach { case (b, i) =>
      last = Freq.absorbHhBatch(spark, dir,
        i.toLong, spark.createDataset(b)(org.apache.spark.sql.Encoders.STRING).toDF("term"), m)
    }
    val (sketch, total, lastId) = Freq.loadHhState(spark, dir)
    assert(total == n.toLong, "running total must be exact")
    assert(lastId.contains(2L))
    assert(sketch.size <= m, s"persisted sketch must stay bounded, got ${sketch.size}")
    // the emitted candidates are a superset of the true heavy set
    val cands = last.select("term").collect().map(_.getString(0)).toSet
    for (h <- 1 to 5) assert(cands.contains(s"h$h"), s"true heavy h$h missing")
    // cnt bounds bracket the truth for the heavy items
    val bounds = last.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    for (h <- 1 to 5) {
      val (lo, hi) = bounds(s"h$h")
      assert(lo <= 1000L && 1000L <= hi, s"h$h bounds ($lo, $hi) miss truth 1000")
    }
    // a Structured Streaming RETRY of batch 2 must be a no-op
    val before = (sketch, total)
    Freq.absorbHhBatch(spark, dir, 2L,
      spark.createDataset(batches(2))(org.apache.spark.sql.Encoders.STRING).toDF("term"), m)
    val (s2, t2, id2) = Freq.loadHhState(spark, dir)
    assert((s2, t2) == before && id2.contains(2L), "replayed batch must not double-count")
  }

  test("streaming heavy hitters over the shard source: stop/restart keeps the total exact") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.ShardStream
    val base = java.nio.file.Files.createTempDirectory("hhstream").toString
    val words = (1 to 400).map(i => if (i % 4 == 0) "hot" else s"w$i")
    ShardStream.writeShardDir(s"$base/stream", words.zipWithIndex.map { case (w, i) =>
      ("s0", f"$i%08d", i.toString, w, 1700000000000L + i) })
    def run(state: String, ckpt: String, trigger: Trigger): Set[String] = {
      val acc = new java.util.concurrent.atomic.AtomicReference[Set[String]](Set.empty)
      val src = spark.readStream.format("kinesiscat")
        .option("path", s"$base/stream").option("startingPosition", ShardStream.TrimHorizon)
        .option("batchSize", "64").load()
        .select(col("data").cast("string").as("term"))
      val q = Freq.heavyHittersStream(src, state, m = 10) { cands =>
        acc.set(cands.select("term").collect().map(_.getString(0)).toSet)
      }.option("checkpointLocation", ckpt).trigger(trigger).start()
      q.awaitTermination()
      acc.get()
    }
    // uninterrupted
    val a = run(s"$base/stA", s"$base/ckA", Trigger.AvailableNow())
    // killed after one capped micro-batch, resumed from the checkpoint
    run(s"$base/stB", s"$base/ckB", Trigger.Once())
    val b = run(s"$base/stB", s"$base/ckB", Trigger.AvailableNow())
    val (_, nA, _) = Freq.loadHhState(spark, s"$base/stA")
    val (_, nB, _) = Freq.loadHhState(spark, s"$base/stB")
    assert(nA == 400L && nB == 400L, s"exactly-once totals, got $nA / $nB")
    // 'hot' is 100 of 400 = a quarter of the stream: n/(m=10) = 40 < 100,
    // so BOTH runs' final candidate sets must contain it
    assert(a.contains("hot") && b.contains("hot"))
  }

  test("skewReport: hottest keys ranked exactly; shares reconcile") {
    val skewed = (1L to 1000L).map(i =>
      (i, if (i <= 500) 1L else if (i <= 700) 2L else i)).toDF("id", "k")
    val got = Freq.skewReport(skewed, col("k"), topK = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(got(0) == (1L, 1L, 500L, 0.5, 0.5))
    assert(got(1) == (2L, 2L, 200L, 0.2, 0.7))
    assert(got(2)._3 == 1L, "third hottest is a singleton")
    // cumulative share is the running sum of shares (exact: integer cum)
    assert(got(2)._5 == 701.0 / 1000.0)
  }

  test("approxDistinct: HLL inside the band at 100k distinct; audit=false plan is sketch-only") {
    import spark.implicits._
    val df = spark.range(100000).select(
      (col("id") % 4).cast("string").as("g"), col("id").as("k"))
    val audited = Freq.approxDistinct(df, col("g"), col("k"), audit = true)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(audited.values.forall(_._2), s"HLL out of band: $audited")
    assert(audited.values.map(_._1).sum == 100000L)
    val p = Freq.approxDistinct(df, col("g"), col("k"))
      .queryExecution.executedPlan
    assert(!p.toString.contains("count(distinct"),
      s"audit=false must not pay the exact distinct expansion:\n$p")
    assert(p.toString.toLowerCase.contains("approx_count_distinct") ||
      p.toString.contains("hyperloglog"), s"expected the HLL aggregate:\n$p")
  }

  test("heavy_hitters_prod vs exact at sf0.1: Misra-Gries error bound holds quantitatively") {
    // VERDICT r14 #7(b): the one no_oracle gate carries a numeric
    // self-check against its exact twin ON THE GATE CORPUS at bench scale.
    // MG theorem: for every term the sketch undercounts by at most
    // err = n/(m+1), so exact-heavy terms (cnt*m > n) must all survive the
    // production threshold with exact in [cnt_min, cnt_min + err].
    import spark.implicits._
    // m = 16384, not the gate's 4096: the sf0.1 corpus' modal trigram has
    // count 25 of ~260K (no term clears n/4096), while n/16385 ≈ 15.9
    // leaves ~1.2K true heavy hitters to check the bound against
    val docs = graft.SparkEntry.table(spark, "/root/testdata/sf0.1", "documents")
    val tg = Freq.trigrams(docs)
    val m = 16384
    val exact = Freq.heavyHitters(tg, m)
      .as[(String, Long)].collect().toMap
    assert(exact.nonEmpty, "gate corpus must have heavy trigrams at m=4096")
    val n = tg.count()
    val err = n / (m + 1)
    val prod = Freq.heavyHitters(tg, m, audit = false)
      .as[(String, Long, Long)].collect()
      .map { case (t, lo, hi) => t -> ((lo, hi)) }.toMap
    exact.foreach { case (t, cnt) =>
      val (lo, hi) = prod.getOrElse(t,
        fail(s"true heavy hitter $t missing from sf0.1 production candidates"))
      assert(lo <= cnt && cnt <= hi, s"$t: exact $cnt outside [$lo, $hi]")
      assert(cnt - lo <= err,
        s"$t: sketch undercount ${cnt - lo} exceeds the MG bound $err (n=$n, m=$m)")
      assert(hi - lo == err, s"$t: interval width ${hi - lo} != n/(m+1) = $err")
    }
  }
}
