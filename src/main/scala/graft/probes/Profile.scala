package graft.probes

import graft.{Bench, SessionTuning, SparkEntry}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Profile of named SparkEntry queries, in one JVM and in the session Bench
  * uses ([[SessionTuning.builder]]). A diagnostic for developers; the timing
  * gate is Bench. For each query it prints:
  *  - the MINIMUM of 7 timed runs, forced the way Bench forces them. Under
  *    bursty host contention the minimum is the honest reading where
  *    medians stay inflated. A `cli_format_data` sentinel runs interleaved
  *    with every repetition, and its minimum is printed for window-quality
  *    context;
  *  - every Spark job of the last repetition with its wall time, stage
  *    and task counts (eager jobs inside the operator plus the final force);
  *  - the formatted physical plan.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<sf dir> runMain graft.probes.Profile q1 q2 ...`
  * (cores from `SPARK_GRAFT_CPUS`, as for Bench).
  */
object Profile {
  private val Reps = 7
  private val Sentinel = "cli_format_data"

  private case class Job(id: Int, ms: Long, stages: Int, tasks: Int)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env("SPARK_GRAFT_SF_DIR")
    val spark = SessionTuning.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = args.toSeq.filter(SparkEntry.queries.contains)
    args.filterNot(SparkEntry.queries.contains)
      .foreach(n => println(s"[profile] unknown query: $n"))

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = starts.put(j.jobId, j)
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(starts.remove(j.jobId)).foreach { s =>
          jobs.add(Job(j.jobId, j.time - s.time, s.stageInfos.size,
            s.stageInfos.map(_.numTasks).sum))
        }
    })
    def drainJobs(): Seq[Job] = {
      org.apache.spark.sql.graft.bridge.waitListenerBus(spark.sparkContext)
      val out = scala.jdk.CollectionConverters.CollectionHasAsScala(jobs).asScala.toSeq
      jobs.clear()
      out.sortBy(_.id)
    }

    def timeOnce(n: String): Double = {
      Bench.lowerFor(spark, n)
      spark.sparkContext.setJobDescription(s"profile:$n")
      val t0 = System.nanoTime()
      Bench.force(SparkEntry.queries(n)(spark, sfDir))
      (System.nanoTime() - t0) / 1e9
    }
    val failed = scala.collection.mutable.Map[String, String]()
    def attempt(n: String): Option[Double] =
      if (failed.contains(n)) None
      else try Some(timeOnce(n)) catch { case e: Throwable =>
        failed(n) = String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")
        None
      }

    // warm every query once (JIT + file listing), then interleave reps
    names.foreach(attempt)
    (1 to 3).foreach(_ => timeOnce(Sentinel))
    val mins = scala.collection.mutable.Map[String, Double]()
    val lastJobs = scala.collection.mutable.Map[String, Seq[Job]]()
    var sentinelMin = Double.MaxValue
    for (rep <- 1 to Reps) {
      sentinelMin = math.min(sentinelMin, timeOnce(Sentinel))
      names.foreach { n =>
        if (rep == Reps) drainJobs()
        attempt(n).foreach { t =>
          mins(n) = math.min(mins.getOrElse(n, Double.MaxValue), t)
          if (rep == Reps) lastJobs(n) = drainJobs()
        }
      }
    }

    println(f"[profile] sentinel $Sentinel min $sentinelMin%.3f s, reps $Reps")
    names.foreach { n =>
      failed.get(n) match {
        case Some(msg) => println(s"\n===== $n: FAILED: $msg")
        case None =>
          val js = lastJobs(n)
          println(f"\n===== $n: min ${mins(n)}%.3f s, ${js.size} jobs in the last repetition")
          js.foreach(j => println(
            f"  job ${j.id}%4d  ${j.ms / 1e3}%.3f s  ${j.stages}%2d stages  ${j.tasks}%4d tasks"))
          Bench.lowerFor(spark, n)
          SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
