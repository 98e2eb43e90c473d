package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-round benchmark: runs SparkEntry.benchQueries on SPARK_GRAFT_SF_DIR
  * and prints one JSON line for the driver.
  *
  * Methodology (fixes round-1 verdict "What's wrong" #2 and round-2 #3):
  *  - one full warm-up pass first, so session init / codegen / JIT cost is
  *    not attributed to whichever query runs first;
  *  - materialization forces EVERY output column through
  *    `xxhash64(all columns) → sum`, so Catalyst cannot prune the very
  *    expressions being benchmarked (a bare `.count()` would);
  *  - MEDIAN of 3 timed runs per query, so one host-contention spike (the
  *    round-2 driver run was ~5× inflated by a concurrent build) cannot
  *    distort the gate;
  *  - a fixed-cost SENTINEL query is timed every 10 queries (not just at
  *    the endpoints — r13's driver run recorded a 1.7×-inflated pagerank
  *    inside a "contended: false" endpoint pair); queries in a window
  *    whose sentinel pair disagrees >1.3× are re-timed once and keep the
  *    smaller median, and the run is flagged `"contended":true` when any
  *    two checkpoints disagree >1.3× — medians within a run cannot catch
  *    a uniformly loaded host (the round-11/12 driver runs were both
  *    distorted this way, costing round 12 a false +29% headline);
  *  - per-query values are rounded to 3 decimals and the JSON is printed
  *    as the final stdout line AND written to `bench.json`: the round-12
  *    full-precision 66-query line (~2.9 KB) outgrew the driver's 2 KB
  *    tail-capture window and shipped `parsed: null`;
  *  - the line carries a `"warmup"` object (r16, VERDICT r15 #3): each
  *    query whose shipped median exceeds 1.3× its own warm-up duration is
  *    listed with that warm-up — warm-ups include first-plan/codegen
  *    cost, so a median above one is contention by construction, and
  *    `min(median, warmup·slack)` is computable from the artifact alone
  *    without a judge re-run. An empty object means every row sat within
  *    1.3× of its own warm-up;
  *  - a CROSS-RUN `"floor"` object (r17, VERDICT r16 #3): the intra-run
  *    warm-up reference is blind to contention that spans the warm-up
  *    pass (BENCH_r16 shipped a 22× dedup_components unflagged), so
  *    `bench_floor.json` persists per-query idle minima to date
  *    (min-merged every run — monotone, so contended values can never
  *    poison it) and each row above 3× its floor ships with that floor,
  *    plus the exact `"floorflags"` count. Both adjudication objects are
  *    filled under the remaining byte budget of the driver's 2 KB tail
  *    window (ADVICE r16 #1) — counts are exact, truncation only drops
  *    per-row detail. The floor guard is keyed by (sf, cpus) — ADVICE
  *    r17 #1: a floor recorded at local[32] would permanently flag honest
  *    4-core medians, so a cpus mismatch skips merge AND adjudication the
  *    same way an sf mismatch already did. The one sanctioned floor
  *    re-seed path (a legitimate perf trade or a Spark version bump) is
  *    documented in BASELINE.md §"Floor re-seed policy";
  *  - TIMEOUT SURVIVABILITY (r18, VERDICT r17 #1 — BENCH_r17 shipped
  *    `rc:124` with ZERO per-query data because the artifact was written
  *    only after the last query): `bench.json` is now REWRITTEN after
  *    every completed measurement (warm-up values ship labelled
  *    `"partial":true,"phase":"warmup"`; timed medians replace them as
  *    they land), so a driver-side kill at ANY point ships every
  *    completed query. A global wall-clock deadline
  *    (`SPARK_GRAFT_BENCH_DEADLINE_S`, default 900 s) additionally
  *    DEGRADES the methodology instead of dying: past 30% of the budget
  *    remaining warm-ups are skipped, past 55% reps drop 3→1, past 85%
  *    the retime pass is skipped — queries are never dropped, and the
  *    final line carries the exact count of DEGRADATION EVENTS in
  *    `"truncated"` (ADVICE r18 #3: one query can contribute up to three
  *    events — warm-up skipped, reps dropped, retime skipped — so the
  *    field bounds but does not equal the affected-query count; 0 on a
  *    healthy run, so old artifacts stay comparable).
  */
object Bench {
  /** Forces full computation of every column; returns a checksum. XOR
    * aggregation (not sum): summing 64-bit hashes overflows under ANSI mode
    * and would abort the query instead of timing it. */
  private[graft] def force(df: DataFrame): Long = {
    val cols = df.columns.map(col)
    val r = df.select(xxhash64(cols: _*).as("h")).agg(expr("bit_xor(h)")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Sets the lowering switch for query `n`: the *_interp control queries
    * must run the interpreted evaluator. */
  private[graft] def lowerFor(spark: SparkSession, n: String): Unit =
    spark.conf.set(graft.compile.LowerJmesPathRule.LowerConfKey,
      (!SparkEntry.interpretedQueries(n)).toString)

  /** Round trip-safe 3-decimal formatting (no scientific notation, no
    * locale commas) — keeps the 68-query line well inside the driver's
    * 2 KB tail window. */
  private def fmt(v: Double): String =
    if (v < 0) "-1" else java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Parse `bench_floor.json`: (sf label, cpus label, per-query floors).
    * A legacy file without a `"cpus"` key is attributed to "32" — every
    * floor recorded before the r18 guard was a local[32] idle minimum
    * (BASELINE.md job-round-floor ledger). Pure, unit-tested. */
  private[graft] def parseFloor(txt: String): (Option[String], Option[String], Map[String, Double]) = {
    val sf = """"sf":"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
    val cp = """"cpus":"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
      .orElse(if (txt.trim.nonEmpty) Some("32") else None)
    val floors = """"([^"]+)":([0-9][0-9.]*)""".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap - "sf" - "cpus"
    (sf, cp, floors)
  }

  /** Min-merge current medians into the previous floors (monotone: a
    * contended value can never lower a floor). Pure, unit-tested. */
  private[graft] def mergeFloor(prev: Map[String, Double],
                                results: Seq[(String, Double)]): Map[String, Double] =
    prev ++ results.filter(_._2 > 0)
      .map { case (n, v) => n -> math.min(v, prev.getOrElse(n, v)) }

  def main(args: Array[String]): Unit = {
    val startNs = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - startNs) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SessionTuning.cpus.toString
    // wall-clock budget: past fractions of it the methodology degrades
    // (fewer warm-ups / reps / retimes) instead of the run dying with an
    // empty artifact (BENCH_r17, rc 124). 900 s sits comfortably under the
    // driver window that killed r17 while never engaging on an idle host
    // (full methodology needs ~300-350 s idle).
    val deadlineS = sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_S", "900").toDouble
    val spark = SessionTuning.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // short sf label ("0.1"), not the full path: every byte of the JSON
    // line competes with the driver's fixed-size tail window
    val sfLabel = {
      val m = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      m.map(_.group(1)).getOrElse(sfDir)
    }

    // optional args = subset of query names (builder-side iteration aid;
    // the driver passes none and times the full headline set)
    val names0 = SparkEntry.benchQueries.filter(SparkEntry.queries.contains)
    val names = if (args.nonEmpty) names0.filter(args.toSet) else names0

    def writeArtifact(json: String): Unit =
      try {
        val w = new java.io.PrintWriter("bench.json"); w.println(json); w.close()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] bench.json write failed: ${e.getMessage}") }

    // incremental flush (r18): every completed measurement lands in
    // bench.json immediately, so a kill at any point ships everything
    // measured so far — warm-up values are honest but labelled partial
    def flushPartial(phase: String, entries: Seq[(String, Double)]): Unit = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val total = entries.map(_._2).filter(_ >= 0).sum
      writeArtifact(s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""partial":true,"phase":"$phase","queries":$qs,"sf":"$sfLabel"}""")
    }

    // warm-up: run everything once (also primes the parquet footer cache).
    // Durations are kept as a per-query REFERENCE for the retimer: a
    // hypervisor freeze INSIDE one timed query (measured r15: a whole-VM
    // deschedule turned one 2.8 s query into 425 s) is invisible to the
    // sentinel windows around it, but glaring against the query's own
    // warm-up time. (Warm-up runs include first-plan/codegen cost, so the
    // reference is conservative — a timed value far ABOVE it is noise.)
    // Deadline-bounded: past 30% of the budget the remaining warm-ups are
    // skipped — those queries merely lose the warm-up adjudication signal.
    val warmupSec = scala.collection.mutable.Map[String, Double]()
    var truncated = 0
    val warmupOrder = scala.collection.mutable.ArrayBuffer[String]()
    names.foreach { n =>
      if (elapsedS > 0.30 * deadlineS) truncated += 1
      else {
        lowerFor(spark, n)
        spark.sparkContext.setJobDescription(s"bench:warmup:$n")
        val t0 = System.nanoTime()
        try {
          force(SparkEntry.queries(n)(spark, sfDir))
          warmupSec(n) = (System.nanoTime() - t0) / 1e9
          warmupOrder += n
          flushPartial("warmup", warmupOrder.toSeq.map(q => q -> warmupSec(q)))
        }
        catch { case e: Throwable => System.err.println(s"[bench/warmup] $n: ${e.getMessage}") }
      }
    }
    if (truncated > 0)
      System.err.println(s"[bench] deadline: skipped $truncated warm-ups " +
        f"(elapsed ${elapsedS}%.0f s of $deadlineS%.0f)")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    def timeOnce(n: String): Double = {
      lowerFor(spark, n)
      // guide §1.5: label the jobs so a UI/event-log reader can attribute
      // every stage to its query (thread-local, no perf effect)
      spark.sparkContext.setJobDescription(s"bench:$n")
      val t0 = System.nanoTime()
      try { force(SparkEntry.queries(n)(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        // a failed query must be visible as a failure, not a fast time
        System.err.println(s"[bench] $n FAILED: ${e.getMessage}")
        -1.0
      }
    }
    def median(n: String, reps: Int = runs): Double = {
      val times = (1 to reps).map(_ => timeOnce(n))
      if (times.contains(-1.0)) -1.0 else times.sorted.apply(times.size / 2)
    }
    // contention sentinel, INTERLEAVED (VERDICT r13 item 4): endpoint-only
    // probes cannot see mid-run load bursts (r13's driver artifact recorded
    // pagerank at 1.7× its idle value inside a "contended: false" run), so
    // the fixed-cost probe runs every `window` queries. A query whose
    // enclosing sentinel window disagrees >1.3× is RE-TIMED once and keeps
    // the smaller median (under contention the minimum is the honest
    // value); the JSON carries every checkpoint plus the retimed names.
    // Extra warm rounds first: without them residual JIT makes the first
    // probe ~1.4× the later ones and flags a healthy run (measured r13).
    val sentinelName = "cli_format_data"
    val window = 10
    // 5 warm rounds: the sentinel itself keeps JIT-speeding-up for a few
    // iterations, and with interleaved checkpoints a drifting sentinel
    // would false-flag the first window as contended
    val sentinelWarmed = elapsedS <= 0.35 * deadlineS
    if (sentinelWarmed)
      (1 to 5).foreach(_ => timeOnce(sentinelName))
    val sentinels = scala.collection.mutable.ArrayBuffer(median(sentinelName))
    val timed = scala.collection.mutable.ArrayBuffer[(String, Double, Int)]()
    names.grouped(window).foreach { group =>
      val w = sentinels.size - 1
      group.foreach { n =>
        // deadline degradation: past 55% of the budget medians drop to a
        // single rep — a degraded value is still honest (and flagged in
        // "truncated"), an absent artifact is not
        val reps = if (elapsedS > 0.55 * deadlineS) { truncated += 1; 1 } else runs
        timed += ((n, median(n, reps), w))
        flushPartial("timed", timed.toSeq.map(t => t._1 -> t._2))
      }
      sentinels += median(sentinelName)
    }
    // retime trigger (VERDICT r14 #3): the r14 run had two windows whose
    // ENDPOINT sentinels agreed with each other while both sat ~1.2× above
    // the run's best sentinel — a sustained burst spanning a whole window
    // is invisible to an endpoint-pair comparison. Judge each window
    // against the RUN-MINIMUM sentinel instead (computable only after the
    // full pass, hence retime-at-the-end), at a tighter 1.15× bound: a
    // false positive merely re-times a window once and keeps the smaller
    // median, while a false negative ships an inflated number.
    // when the JIT warm-up was deadline-skipped the FIRST sentinel still
    // carries first-run/codegen cost (ADVICE r18 #4): exclude it from the
    // min/max adjudication and treat window 0 as non-adjudicable below —
    // an unwarmed probe measures the JVM, not host load
    val adjSentinels =
      (if (sentinelWarmed) sentinels.toSeq else sentinels.toSeq.drop(1))
        .filter(_ > 0)
    val sMin = adjSentinels.minOption.getOrElse(-1.0)
    val sMax = adjSentinels.maxOption.getOrElse(-1.0)
    // absolute jitter guard (r18): on a fast idle host the sentinel sits
    // at 0.05-0.09 s where ±20 ms of ordinary jitter trips the 1.15×
    // ratio — the r18 baseline IDLE run burned its full 20-retime budget
    // and shipped "contended":true on a 0.056→0.077 wobble. A ratio only
    // counts as load if the absolute spread also clears 40 ms; genuine
    // contention (r15-r17 artifacts: sentinels 0.2-4.7 s) clears it by an
    // order of magnitude, so the trigger's sensitivity to real load is
    // unchanged while an idle run stops re-timing noise.
    val sJitterEps = 0.04
    def windowRatio(w: Int): Double = {
      // window 0's opening sentinel is JIT-inflated when warm-up was
      // deadline-skipped — not adjudicable (ADVICE r18 #4)
      if (w == 0 && !sentinelWarmed) return 1.0
      val (a, b) = (sentinels(w), sentinels(w + 1))
      if (a > 0 && b > 0 && sMin > 0 && math.max(a, b) - sMin > sJitterEps)
        math.max(a, b) / sMin
      else 1.0
    }
    // BUDGETED retiming: under sustained heavy contention every window
    // flags and an unbounded pass doubles the wall clock (measured r15:
    // 72/72 retimed, ~2× run time) — which risks the driver's bench
    // window for numbers contention will distort anyway. Spend the budget
    // on the WORST windows first (largest sentinel inflation), where a
    // retimed minimum recovers the most truth per second spent.
    val retimeBudget = 20
    // a timed median far above the query's own warm-up run means a freeze
    // hit INSIDE the window (sentinel-invisible); rank it with the
    // sentinel-inflation candidates by severity
    def warmupRatio(n: String, t: Double): Double =
      warmupSec.get(n).filter(_ > 0).map(t / _).getOrElse(1.0)
    def severity(n: String, t: Double, w: Int): Double =
      math.max(windowRatio(w), warmupRatio(n, t) / 2.0)
    val retimeCandidates = timed.toSeq
      .filter { case (n, t, w) =>
        t >= 0 && (windowRatio(w) > 1.15 || warmupRatio(n, t) > 2.0) }
      .sortBy { case (n, t, w) => -severity(n, t, w) }
      .take(retimeBudget).map(_._1)
    // deadline degradation: past 85% of the budget the retime pass is
    // skipped wholesale; past 95% mid-pass, the remaining retimes are
    val retimeSet: Set[String] =
      if (elapsedS > 0.85 * deadlineS) { truncated += retimeCandidates.size; Set.empty }
      else retimeCandidates.toSet
    val retimed = scala.collection.mutable.ArrayBuffer[String]()
    val current = scala.collection.mutable.LinkedHashMap[String, Double](
      timed.toSeq.map(t => t._1 -> t._2): _*)
    timed.toSeq.foreach { case (n, t, _) =>
      if (retimeSet(n) && elapsedS <= 0.95 * deadlineS) {
        retimed += n
        val t2 = median(n)
        current(n) = if (t2 >= 0) math.min(t, t2) else t
        flushPartial("retime", current.toSeq)
      } else if (retimeSet(n)) truncated += 1
    }
    val results = current.toSeq
    val contended = sMin > 0 && sMax / sMin > 1.3 && sMax - sMin > sJitterEps

    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // retimed names are capped so a fully-loaded host cannot blow the
    // driver's 2 KB tail window; the count is always exact
    val retimedJson = retimed.take(5).map("\"" + _ + "\"").mkString("[", ",", "]")
    def fmt2(v: Double): String =
      java.lang.String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

    // CROSS-RUN floor reference (VERDICT r16 item 3): the intra-run
    // warm-up reference fails when contention spans the warm-up pass too
    // (BENCH_r16 shipped dedup_components at 22× unflagged). bench_floor
    // .json persists each query's idle MINIMUM to date — minima are
    // monotone, so merging min(floor, median) on every run is always
    // safe: a contended value never lowers a floor, a genuinely faster
    // run always does. Floors are per (scale factor, cpu count) — ADVICE
    // r17 #1: a local[32] floor would permanently flag an honest 4-core
    // median as >3× contention, so a mismatch on EITHER key leaves the
    // file untouched and skips floor adjudication. The sanctioned re-seed
    // path for legitimate trades is BASELINE.md §"Floor re-seed policy".
    val floorPath = "bench_floor.json"
    val floorTxt = try scala.io.Source.fromFile(floorPath).mkString
      catch { case _: Throwable => "" }
    val (floorSf, floorCpus, prevFloorAll) = parseFloor(floorTxt)
    val guardOk = floorTxt.trim.isEmpty ||
      (floorSf.contains(sfLabel) && floorCpus.contains(cpus))
    val prevFloor: Map[String, Double] = if (guardOk) prevFloorAll else Map.empty
    val newFloor: Map[String, Double] = mergeFloor(prevFloor, results)
    if (guardOk) try {
      val body = newFloor.toSeq.sortBy(_._1)
        .map { case (n, v) => "\"" + n + "\":" + fmt(v) }.mkString(",")
      val w = new java.io.PrintWriter(floorPath)
      w.println(s"""{"sf":"$sfLabel","cpus":"$cpus",$body}"""); w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $floorPath write failed: ${e.getMessage}") }

    // per-query adjudication references, worst-inflated first:
    //  - "floor": rows whose shipped median exceeds 3× their cross-run
    //    idle floor (identifiable as contention artifacts from the
    //    artifact alone, even when the freeze spanned the warm-up pass);
    //  - "warmup" (VERDICT r15 item 3): rows above 1.3× their own
    //    intra-run warm-up.
    // Both objects are filled under the REMAINING BYTE BUDGET of the
    // driver's 2 KB tail window (ADVICE r16 #1 — a fixed 25-entry cap
    // could push a contended run's line past 2 KB and ship parsed:null);
    // the exact flag COUNTS always ship, truncation only drops detail.
    // On a (sf, cpus) guard mismatch newFloor == this run's own medians,
    // so nothing can flag — floor adjudication is effectively off.
    val floorFlagged = results
      .filter { case (n, v) =>
        v > 0 && newFloor.get(n).exists(f => f > 0 && v > 3.0 * f) }
      .sortBy { case (n, v) => -v / newFloor(n) }
      .map { case (n, _) => "\"" + n + "\":" + fmt(newFloor(n)) }
    val warmFlagged = results
      .filter { case (n, v) =>
        v > 0 && warmupSec.get(n).exists(w => w > 0 && v > 1.3 * w) }
      .sortBy { case (n, v) => -v / warmupSec(n) }
      .map { case (n, _) => "\"" + n + "\":" + fmt2(warmupSec(n)) }
    def fill(entries: Seq[String], budget: Int): String = {
      val b = new StringBuilder("{")
      entries.foreach { e =>
        if (b.length + e.length + 2 <= budget) {
          if (b.length > 1) b.append(',')
          b.append(e)
        }
      }
      b.append('}').toString
    }
    def assemble(floorJson: String, warmJson: String): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","contended":$contended,""" +
      s""""sentinel":[${sentinels.map(fmt).mkString(",")}],""" +
      s""""retimed":${retimed.size},"retimedNames":$retimedJson,""" +
      s""""truncated":$truncated,""" +
      s""""floorflags":${floorFlagged.size},"floor":$floorJson,""" +
      s""""warmup":$warmJson,""" +
      s""""queries":$qs,"sf":"$sfLabel"}"""
    // budget = 2 KB window minus the line with both objects empty, split
    // floor-first (the cross-run signal survives warm-up-spanning freezes)
    val fixedLen = assemble("{}", "{}").length
    val budget = math.max(0, 1950 - fixedLen)
    val floorJson = fill(floorFlagged, budget * 2 / 3)
    val warmJson = fill(warmFlagged, budget - floorJson.length + 2)
    val json = assemble(floorJson, warmJson)
    // belt-and-braces: also persist to a file in case stdout gets clipped
    writeArtifact(json)
    spark.stop()
    // final line of stdout, after spark.stop(), so nothing can print below it
    println(json)
  }
}
